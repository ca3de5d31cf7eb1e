"""Bucketed-layout co-located join: the result must equal the plain
parquet join exactly, and the layout must actually remove the join
shuffles — the bucketed plan's join inputs carry no Exchange, where
the unbucketed twin shuffles both sides."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from tests.conftest import REPO, SF_SMOKE


def _canon(rows):
    return sorted((r.nationkey, r.n_orders, r.revenue) for r in rows)


def test_bucketed_join_matches_plain_join_and_drops_exchanges(spark):
    from mapreduce511_spark.queries.relational import bucketed_join_revenue
    from mapreduce511_spark.sources.tables import load_table

    spark.catalog.clearCache()
    bucketed = bucketed_join_revenue(spark, SF_SMOKE)

    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_totalprice"
    )
    plain = (
        cust.hint("merge")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    assert _canon(bucketed.collect()) == _canon(plain.collect())

    def final_plan(df):
        # AQE prints Final + Initial sections; audit the final only.
        s = df._jdf.queryExecution().executedPlan().toString()
        return s.split("== Initial Plan ==")[0]

    b_plan, p_plan = final_plan(bucketed), final_plan(plain)
    # unbucketed twin: two join-input shuffles + final agg shuffle;
    # bucketed: the join inputs read pre-partitioned, only the final
    # agg exchanges.
    assert b_plan.count("Exchange") < p_plan.count("Exchange"), (
        b_plan,
        p_plan,
    )
    assert b_plan.count("Exchange") == 1, b_plan
    assert "SortMergeJoin" in b_plan, b_plan
    assert b_plan.count("Bucketed: true") == 2, b_plan


def test_bucketed_write_is_repeatable(spark):
    """Overwrite mode: a second materialization of the same table
    succeeds and the table stays queryable (the ingest-refresh
    path)."""
    from mapreduce511_spark.operators.bucketed import write_bucketed
    from mapreduce511_spark.sources.tables import load_table

    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_nationkey"
    )
    write_bucketed(cust, "mr511_bucketed_rewrite_probe", "c_custkey", 4)
    write_bucketed(cust, "mr511_bucketed_rewrite_probe", "c_custkey", 4)
    assert spark.table("mr511_bucketed_rewrite_probe").count() == cust.count()
    spark.sql("DROP TABLE mr511_bucketed_rewrite_probe")


def test_session_tables_removed_at_exit(tmp_path):
    """The two per-session tables ``bucketed_join_revenue`` writes
    (names suffixed with the applicationId) are removed when the
    process that wrote them exits. Runs in a subprocess with its own
    warehouse."""
    wh = tmp_path / "wh"
    script = textwrap.dedent(
        f"""
        import os
        from mapreduce511_spark.queries.relational import bucketed_join_revenue
        from mapreduce511_spark.session import get_spark

        spark = get_spark(
            "bucketed-exit", cpus=2, shuffle_partitions=4,
            extra_conf={{"spark.sql.warehouse.dir": {str(wh)!r}}},
        )
        bucketed_join_revenue(spark, {SF_SMOKE!r}).collect()
        print("live", sorted(os.listdir({str(wh)!r})))
        """
    )
    path = os.pathsep.join(
        filter(None, [str(REPO), os.environ.get("PYTHONPATH")])
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": path, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.count("mr511_bucketed_") == 2, proc.stdout
    assert [p.name for p in wh.glob("mr511_bucketed_*")] == []
