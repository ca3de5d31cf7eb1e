"""Edge-case tests for the log parsers over synthetic fixtures
(FIXTURES.md F2/F3/F5 scenarios)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce511_spark.plans import (
    parse_monitor_lines,
    parse_progress_lines,
    stage_metrics,
)
from mapreduce511_spark.plans.fixtures import build_fixture_tree
from mapreduce511_spark.plans.runs import experiment_files, experiment_lines


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    return build_fixture_tree(str(tmp_path_factory.mktemp("fixtures")))


@pytest.fixture(scope="module")
def monitor(spark, tree):
    return parse_monitor_lines(
        experiment_lines(spark, tree, "monitor.log")
    ).cache()


@pytest.fixture(scope="module")
def stages(spark, tree):
    lines = experiment_lines(spark, tree, "job_output.log")
    return stage_metrics(parse_progress_lines(lines))


def test_both_layouts_discovered(tree):
    files = experiment_files(tree, "monitor.log")
    assert any("/_1G_slowstart_0.5/monitor.log" in f for f in files)  # flat
    assert any("20250101_000000/monitor.log" in f for f in files)  # nested


def test_nonstandard_folder_skipped(spark, tree):
    lines = experiment_lines(spark, tree, "monitor.log")
    assert lines.filter(F.col("file").contains("/notes/")).count() == 0


def test_separator_step_numbering(monitor):
    """Nested run 0: 12 cycles with leading separators → steps 0..11,
    3 nodes each except the cpu-zero line that must be dropped."""
    run0 = monitor.filter(
        F.col("file").contains("_100mb_slowstart_0.5/20250101_000000")
    )
    steps = run0.groupBy("time_step").count().collect()
    by_step = {r["time_step"]: r["count"] for r in steps}
    assert set(by_step) == set(range(12))
    assert by_step[3] == 2  # integer 'CPU: 0%' line silently dropped
    assert all(v == 3 for s, v in by_step.items() if s != 3)


def test_no_leading_separator_merges_first_blocks(monitor):
    """Flat 1G file: no header, first block not preceded by '----',
    but a separator occurs within the first 20 lines → the seed quirk
    does NOT fire; samples before the first separator are floored to
    step 0, so blocks 1 and 2 share step 0 (reference
    ``common_utils.py:32-37``): 15 blocks → steps 0..13."""
    flat = monitor.filter(F.col("file").contains("_1G_slowstart_0.5"))
    by_step = {
        r["time_step"]: r["count"]
        for r in flat.groupBy("time_step").count().collect()
    }
    assert set(by_step) == set(range(14))
    assert by_step[0] == 6  # first two blocks merged at step 0
    assert by_step[13] == 2  # truncated final block
    assert all(v == 3 for s, v in by_step.items() if s not in (0, 13))


def test_seed_quirk_late_first_separator(monitor):
    """2G file: 21 samples before the first separator and none in the
    first 20 lines → the quirk seeds the counter to 0, so the
    post-separator block lands on step 1 (not 0)."""
    late = monitor.filter(F.col("file").contains("_2G_slowstart_0.5"))
    by_step = {
        r["time_step"]: r["count"]
        for r in late.groupBy("time_step").count().collect()
    }
    assert by_step == {0: 21, 1: 3}


def test_monitor_values(monitor):
    assert monitor.filter(
        (F.col("cpu") < 0) | (F.col("cpu") > 100) | (F.col("mem") < 0)
    ).count() == 0
    assert dict(monitor.dtypes)["cpu"] == "double"
    assert dict(monitor.dtypes)["mem"] == "int"


def test_map_never_100_aborts(stages):
    """The 500MB@0.2 run never reaches map 100 → dropped (None-abort)."""
    assert stages.filter(
        F.col("file").contains("_500mb_slowstart_0.2")
    ).count() == 0


def test_single_record_run(stages):
    """Single progress record: all stage durations collapse to 0."""
    row = stages.filter(F.col("file").contains("_500mb_slowstart_0.8")).collect()
    assert len(row) == 1
    r = row[0]
    assert r["map_s"] == r["total_s"] == r["reduce_s"] == 0.0


def test_ss_one_zero_overlap(stages):
    """SS=1.0 runs: reduce starts only after map completes → the
    first red>0 record coincides with map==100, overlap spans 0."""
    rows = stages.filter(F.col("slowstart") == 1.0).collect()
    assert rows
    for r in rows:
        assert r["overlap_pct"] == 0.0


def test_overlap_bounds(stages):
    for r in stages.collect():
        assert 0.0 <= r["overlap_pct"] <= 100.0
        assert r["total_s"] >= r["map_s"] >= 0


def test_fixture_tree_end_to_end(spark, tmp_path):
    """The synthetic fixture tree (the fallback input when the
    reference is absent) must flow through the full pipeline: parse ->
    stage metrics -> averaged series -> wide report."""
    from mapreduce511_spark.plans import (
        averaged_series,
        parse_monitor_lines,
        parse_progress_lines,
        stage_metrics,
        stage_summary,
        wide_report,
    )
    from mapreduce511_spark.plans.fixtures import build_fixture_tree
    from mapreduce511_spark.plans.runs import experiment_lines

    root = build_fixture_tree(str(tmp_path / "tree"))
    mon = parse_monitor_lines(experiment_lines(spark, root, "monitor.log"))
    assert mon.count() > 0
    series = averaged_series(mon, "cpu")
    assert series.count() > 0
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, root, "job_output.log"))
    )
    assert stg.count() > 0
    wide = wide_report(stage_summary(stg), "total_s", "min").collect()
    assert wide and "best_slowstart" in wide[0].asDict()


def test_sweep_harness_wordcount(spark):
    """E1 analog: sweep shuffle partitions over the WordCount job,
    report per-value means with a best flag."""
    from mapreduce511_spark.operators.wordcount import word_count
    from mapreduce511_spark.sources.tables import load_table
    from mapreduce511_spark.sweep import run_sweep, sweep_report
    from tests.conftest import SF_SMOKE

    def job(s):
        return word_count(load_table(s, SF_SMOKE, "documents"))

    results = run_sweep(spark, job, values=[4, 16], runs_per_value=2)
    assert results.count() == 4
    distinct_rows = results.select("out_rows").distinct().collect()
    assert len(distinct_rows) == 1  # same answer under every config
    rep = sweep_report(results).collect()
    assert len(rep) == 2
    assert sum(1 for r in rep if r["is_best"]) >= 1


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["plain", "file-uri"])
def test_read_text_ordered_rejects_oversized_file(spark, tmp_path, monkeypatch, scheme):
    """A file larger than maxPartitionBytes would be split and its
    line numbering silently corrupted — must raise instead, also when
    the path carries a ``file:`` scheme."""
    from mapreduce511_spark.sources import text_logs

    big = tmp_path / "big.log"
    big.write_text("x\n" * 10)
    monkeypatch.setattr(text_logs, "_max_partition_bytes", lambda s: 5)
    with pytest.raises(ValueError, match="maxPartitionBytes"):
        text_logs.read_text_ordered(spark, [scheme + str(big)])


@pytest.mark.parametrize("scheme", ["file:", "file://"])
def test_experiment_files_strips_file_scheme(tree, scheme):
    """A ``file:`` tree root lists the same files as the bare path."""
    plain = experiment_files(tree, "monitor.log")
    assert plain
    assert experiment_files(scheme + tree, "monitor.log") == plain


def test_reports_read_pinned_aggregates_not_logs(spark, tree):
    """``stage_metrics`` and ``averaged_series`` are materialized, so
    the reports built on them plan no text-file scan: every report
    reads the parsed rows, not the logs."""
    from mapreduce511_spark.plans import (
        averaged_series,
        config_metric_mean,
        result_raw,
        stage_summary,
        wide_report,
    )

    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, tree, "job_output.log"))
    )
    series = averaged_series(
        parse_monitor_lines(experiment_lines(spark, tree, "monitor.log")), "cpu"
    )
    for report in (
        result_raw(stage_summary(stg), config_metric_mean(series, "cpu")),
        wide_report(stage_summary(stg), "total_s", "min"),
    ):
        plan = report._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan, plan


def test_read_text_ordered_line_numbers(spark, tmp_path):
    a = tmp_path / "a.log"; a.write_text("l0\nl1\nl2\n")
    b = tmp_path / "b.log"; b.write_text("m0\nm1\n")
    from mapreduce511_spark.sources.text_logs import read_text_ordered

    rows = read_text_ordered(spark, [str(a), str(b)]).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.file.rsplit("/", 1)[-1], []).append((r.line_no, r.value))
    assert sorted(by_file["a.log"]) == [(0, "l0"), (1, "l1"), (2, "l2")]
    assert sorted(by_file["b.log"]) == [(0, "m0"), (1, "m1")]


def test_partitioned_experiment_tree_roundtrip(spark, tmp_path):
    """Hive-partitioned persistence of the experiment tree: config
    filters become PartitionFilters (pruned scan), data survives the
    round trip."""
    import pyspark.sql.functions as F

    from mapreduce511_spark.plans.fixtures import build_fixture_tree
    from mapreduce511_spark.plans.runs import (
        experiment_lines,
        read_partitioned_lines,
        write_partitioned_lines,
    )

    tree = build_fixture_tree(str(tmp_path / "tree"))
    lines = experiment_lines(spark, tree, "monitor.log")
    out = str(tmp_path / "partitioned")
    write_partitioned_lines(lines, out)
    back = read_partitioned_lines(spark, out)
    assert back.count() == lines.count()
    one = back.filter(F.col("slowstart") == 0.2)
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "slowstart" in pf, pf
    assert one.count() == lines.filter(F.col("slowstart") == 0.2).count()
