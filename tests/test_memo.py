"""Session memo helper (``mapreduce511_spark/memo.py``) and its
consumers: entries are per session and input snapshot, inputs that
cannot be stat'ed build every time, and every memo consumer gives the
same rows on a ``file:`` URI as on the plain path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from tests.conftest import REPO, SF_SMOKE


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_keys_on_session_and_snapshot(tmp_path):
    from mapreduce511_spark.memo import session_memo, stat_signature

    f = tmp_path / "t.parquet"
    f.write_bytes(b"x")
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    store: dict = {}
    a, b = _session("app-a"), _session("app-b")
    assert session_memo(store, a, [str(f)], build) == 1
    assert session_memo(store, a, [str(f)], build) == 1  # hit
    assert session_memo(store, a, ["file:" + str(f)], build) == 2  # own key
    # a changed applicationId misses and drops the stopped session's
    # entries
    assert session_memo(store, b, [str(f)], build) == 3
    assert [k[1] for k in store] == ["app-b"]
    # a rewrite replaces the entry instead of adding one
    f.write_bytes(b"xy")
    assert session_memo(store, b, [str(f)], build) == 4
    assert len(store) == 1
    assert stat_signature(["file:" + str(f)]) == stat_signature([str(f)])
    # the tag is part of the key
    assert session_memo(store, b, [str(f)], build, tag=("t",)) == 5
    assert len(store) == 2


@pytest.mark.parametrize(
    "path",
    ["hdfs://nn:8020/sf/documents.parquet", "s3a://bucket/documents.parquet"],
)
def test_session_memo_builds_unstatable_inputs_every_call(tmp_path, path):
    from mapreduce511_spark.memo import session_memo, stat_signature

    local = tmp_path / "t.parquet"
    local.write_bytes(b"x")
    assert stat_signature([str(local), path]) is None
    store: dict = {}
    builds = []
    for _ in range(2):
        session_memo(store, _session("app"), [path], lambda: builds.append(1))
    assert len(builds) == 2 and store == {}


@pytest.mark.parametrize(
    "name",
    [
        "copurchase_label_propagation",
        "suffix_repeated_phrases",
        "stream_tumbling_event_counts",
        "stream_dedup_census",
        "dedup_clusters",
        "heldout_bigram_ppl",
        "cbo_stats_census",
    ],
)
def test_memo_consumers_accept_file_uri(spark, name):
    from mapreduce511_spark.queries import all_queries

    fn = all_queries()[name]

    def rows(sf_dir):
        return sorted(map(tuple, fn(spark, sf_dir).collect()), key=repr)

    assert rows("file:" + SF_SMOKE) == rows(SF_SMOKE)


def test_cbo_tables_resolve_after_session_restart(tmp_path):
    """A session restart in one process starts a fresh in-memory
    catalog, so the memoized database name must not outlive the
    session that created it. Runs in a subprocess: the restart stops
    the session."""
    script = textwrap.dedent(
        f"""
        from mapreduce511_spark.queries.catalog_stats import ensure_cbo_tables
        from mapreduce511_spark.session import get_spark

        conf = {{"spark.sql.warehouse.dir": {str(tmp_path / "wh")!r}}}
        spark = get_spark("cbo-restart-1", cpus=2, extra_conf=conf)
        db = ensure_cbo_tables(spark, {SF_SMOKE!r})
        n = spark.table(db + ".nation").count()
        spark.stop()
        spark = get_spark("cbo-restart-2", cpus=2, extra_conf=conf)
        db = ensure_cbo_tables(spark, {SF_SMOKE!r})
        assert spark.table(db + ".nation").count() == n
        spark.stop()
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


def test_sweep_restores_the_swept_key_or_unsets_it(spark):
    """``run_sweep`` (through ``memo.session_conf``) puts back the swept
    key's earlier value, and unsets a key that had none."""
    from mapreduce511_spark.sweep import run_sweep

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert spark.conf.get(key, None) is None
    run_sweep(spark, lambda s: s.range(3), [3, 5], param=key)
    assert spark.conf.get(key, None) is None
    spark.conf.set(key, "7")
    try:
        run_sweep(spark, lambda s: s.range(3), [3], param=key)
        assert spark.conf.get(key, None) == "7"
    finally:
        spark.conf.unset(key)
