"""CLI smoke tests (the reference's user surface: run_mr_real.sh /
analyze_*.py / run_batch.sh analogs)."""

from __future__ import annotations

import glob
import os

from mapreduce511_spark.cli import main
from tests.conftest import SF_SMOKE


def test_cli_wordcount_parquet(spark, tmp_path, capsys):
    out = str(tmp_path / "wc")
    rc = main(
        [
            "wordcount",
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--format", "parquet",
            "--output", out,
        ]
    )
    assert rc == 0
    files = glob.glob(out + "/part-*")
    assert len(files) == 1
    first = open(files[0]).readline().rstrip("\n").split("\t")
    assert len(first) == 2 and first[1].isdigit()
    assert "distinct words" in capsys.readouterr().out


def test_cli_analyze_reference_tree(spark, tmp_path, capsys):
    tree = "/root/reference/MapReduceLog"
    if not os.path.isdir(tree):
        import pytest

        pytest.skip("reference tree not available")
    out = str(tmp_path / "results")
    rc = main(["analyze", "--tree", tree, "--out", out])
    assert rc == 0
    for name in (
        "result_raw result_time result_map result_shuffle "
        "result_reduce result_overlap result_cpu"
    ).split():
        assert glob.glob(f"{out}/{name}/part-*.csv"), name
    assert "7 report tables" in capsys.readouterr().out


def test_cli_analyze_fixture_tree(spark, tmp_path, capsys):
    """``analyze`` over the synthetic experiment tree writes all seven
    report tables, and result_raw's stage columns equal the stage
    summary computed directly."""
    import csv

    from mapreduce511_spark.plans import (
        parse_progress_lines,
        stage_metrics,
        stage_summary,
    )
    from mapreduce511_spark.plans.fixtures import build_fixture_tree
    from mapreduce511_spark.plans.runs import experiment_lines

    tree = build_fixture_tree(str(tmp_path / "tree"))
    out = str(tmp_path / "results")
    rc = main(["analyze", "--tree", tree, "--out", out])
    assert rc == 0
    for name in (
        "result_raw result_time result_map result_shuffle "
        "result_reduce result_overlap result_cpu"
    ).split():
        assert glob.glob(f"{out}/{name}/part-*.csv"), name
    assert "7 report tables" in capsys.readouterr().out

    got = {}
    for part in glob.glob(f"{out}/result_raw/part-*.csv"):
        with open(part, newline="") as fh:
            for r in csv.DictReader(fh):
                key = (r["dataset"], float(r["slowstart"]))
                got[key] = (float(r["map_s"]), float(r["total_s"]))
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, tree, "job_output.log"))
    )
    want = {
        (r["dataset"], r["slowstart"]): (r["map_s"], r["total_s"])
        for r in stage_summary(stg).collect()
    }
    assert want and got == want


def test_cli_sweep(spark, capsys):
    rc = main(["sweep", "--sf-dir", SF_SMOKE, "--values", "4", "8"])
    assert rc == 0
    out = capsys.readouterr().out
    assert out.count("shuffle.partitions=") == 2
    assert "<- best" in out


def test_cli_clean_writes_partitioned_parquet(spark, tmp_path, capsys):
    """`clean` materializes the dedup+quality+split pipeline as
    split-partitioned parquet whose census equals the oracled
    pipeline_clean_corpus query."""
    out = str(tmp_path / "clean")
    rc = main(["clean", "--sf-dir", SF_SMOKE, "--output", out])
    assert rc == 0
    assert {os.path.basename(p) for p in glob.glob(out + "/split=*")} <= {
        "split=train",
        "split=val",
        "split=test",
    }
    printed = capsys.readouterr().out
    assert "train:" in printed
    # read back; census must match the registered query's totals
    from pyspark.sql import functions as F

    from mapreduce511_spark.queries.text import pipeline_clean_corpus

    back = spark.read.parquet(out)
    got = {
        (r.split,): (r.docs, r.toks)
        for r in back.groupBy("split")
        .agg(F.count("*").alias("docs"), F.sum("n_tok").alias("toks"))
        .collect()
    }
    want = {}
    for r in pipeline_clean_corpus(spark, SF_SMOKE).collect():
        d, t = want.get((r.split,), (0, 0))
        want[(r.split,)] = (d + r.n_docs, t + r.n_tokens)
    assert got == want


def test_cli_export_jsonl_round_trip(spark, tmp_path, capsys):
    out = str(tmp_path / "jsonl")
    rc = main(["export", "--sf-dir", SF_SMOKE, "--shards", "3", out])
    assert rc == 0
    assert "exported documents" in capsys.readouterr().out

    from mapreduce511_spark.sources.jsonl import read_jsonl
    from mapreduce511_spark.sources.tables import load_table

    n_orig = load_table(spark, SF_SMOKE, "documents").count()
    assert read_jsonl(spark, out, "documents").count() == n_orig


def test_cli_audit_clean_data_exits_zero(spark, capsys):
    rc = main(["audit", "--sf-dir", SF_SMOKE])
    assert rc == 0
    out = capsys.readouterr().out
    # all seven named checks print a zero-violation row on testdata
    assert out.count("\t0") == 7
    assert "orders_orphan_custkey" in out
