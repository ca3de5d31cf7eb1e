"""Bucketed (pre-partitioned) tables: the shuffle-free co-located
join primitive.

A join between two large fact tables normally shuffles BOTH sides on
the join key every time it runs. Writing the tables bucketed on that
key (``bucketBy`` — Spark's hash-bucketed parquet layout, recorded in
the table catalog) moves the shuffle to WRITE TIME, once: every
subsequent join on the bucket key reads both sides already
co-partitioned, and the sort-merge join plans with no Exchange on
either input. At 100 TB this is the difference between re-shuffling
the fact table per query and never shuffling it again — the standard
warehouse layout for repeated fact-to-fact joins (the in-query twin
is ``repartition`` on the key; the broadcast path only exists for
dimension-sized sides).

``sortBy`` on the same key additionally makes each bucket file
internally ordered, so the merge join's per-task sort is a cheap
verification pass.

Reference basis: extension tier — storage-layout operator family
(with ``zorder_cell_census`` and ``ivf_write_partitioned``); no
analog in /root/reference (its engine re-reads flat CSV per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce511_spark.memo import local_path, remove_at_exit

_SESSION_TABLES: set = set()  # tables this process removes at exit


def _hadoop_delete(spark: SparkSession, location: str) -> None:
    """Recursively delete ``location`` through the Hadoop FileSystem
    API — works for any URI scheme the session can reach (file:,
    hdfs:, s3a:, ...), unlike a local ``shutil.rmtree`` which
    silently no-ops on non-local warehouses."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def _default_location(spark: SparkSession, table: str) -> str:
    """The managed-table location Spark WOULD use for ``table`` —
    handles qualified names (``db.tbl`` -> ``<wh>/db.db/tbl``) and
    the current-database default. Used only for the orphaned-dir
    sweep, when the catalog no longer knows the table."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    db, _, tbl = table.rpartition(".")
    if not db:
        db = spark.catalog.currentDatabase()
    base = warehouse.rstrip("/")
    if db.lower() != "default":
        base = f"{base}/{db.lower()}.db"
    return f"{base}/{tbl.lower()}"


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int) -> None:
    """Materialize ``df`` as a hash-bucketed, per-bucket-sorted
    catalog table (parquet). Overwrites any previous version — the
    write IS the one-time shuffle the layout amortizes away.

    Cleanup order: if the catalog knows the table, resolve its REAL
    location first (it may differ from the default for qualified
    names or relocated warehouses), drop, then delete the location;
    otherwise sweep the default managed location, handling the
    orphaned-directory case — a location left on disk by a previous
    session whose catalog no longer lists the table makes a plain
    overwrite fail with LOCATION_ALREADY_EXISTS. Deletion goes
    through the Hadoop FS API so non-local warehouse URIs work too."""
    spark = df.sparkSession
    location = None
    if spark.catalog.tableExists(table):
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
            if row.col_name == "Location":
                location = row.data_type
                break
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # DROP removes a managed table's data, but sweep anyway: the
    # orphan case (dir present, catalog entry gone) leaves location
    # None, and a failed earlier write can leave partial files.
    _hadoop_delete(spark, location or _default_location(spark, table))
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def session_table_name(spark: SparkSession, base: str) -> str:
    """A table name unique to this SparkSession (suffix = sanitized
    applicationId): two sessions sharing a warehouse dir never race
    on the same managed location, while repeated calls within one
    session reuse (overwrite) the same table. Like a
    ``memo.owned_tmpdir`` dir, a local warehouse's copy of the table is
    removed when the creating process exits, so these names do not
    pile up."""
    app = "".join(
        c if c.isalnum() else "_" for c in spark.sparkContext.applicationId
    )
    table = f"{base}_{app}"
    if table not in _SESSION_TABLES:
        _SESSION_TABLES.add(table)
        remove_at_exit(local_path(_default_location(spark, table)))
    return table
