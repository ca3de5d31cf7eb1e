"""Scratch-dir lifetimes of the streaming queries: a per-run dir
(``streaming_queries._scratch_run``) is gone when the query returns or
raises; the staged sources and standing sides (``memo.owned_tmpdir``)
are gone when the process exits."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import textwrap

import pytest

from tests.conftest import REPO, SF_SMOKE


@pytest.fixture
def made_dirs(monkeypatch):
    """Every dir ``tempfile.mkdtemp`` creates during the test."""
    made = []
    real = tempfile.mkdtemp

    def spy(*args, **kwargs):
        d = real(*args, **kwargs)
        made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    return made


def _per_run(made, prefix):
    # mkdtemp appends 8 random chars; a standing dir of the same tag
    # is ``mr511_<prefix>_standing_*`` and longer
    pat = re.compile(rf"mr511_{prefix}_[a-z0-9_]{{8}}")
    return [d for d in made if pat.fullmatch(os.path.basename(d))]


def test_memory_sink_query_removes_its_run_dir(spark, made_dirs):
    from mapreduce511_spark.queries.streaming_queries import (
        stream_tumbling_event_counts,
    )

    df = stream_tumbling_event_counts(spark, SF_SMOKE)
    runs = _per_run(made_dirs, "tumble")
    assert len(runs) == 1
    assert not os.path.exists(runs[0])
    assert df.count() > 0  # the pinned result outlives the dir


def test_foreach_batch_gate_removes_its_run_dir(spark, made_dirs):
    from mapreduce511_spark.queries.streaming_queries import (
        stream_image_dhash_admission,
    )

    df = stream_image_dhash_admission(spark, SF_SMOKE)
    runs = _per_run(made_dirs, "imgadmit")
    assert len(runs) == 1
    assert not os.path.exists(runs[0])
    assert df.first().n_stream > 0


def test_failed_drain_removes_its_run_dir(spark, made_dirs, monkeypatch):
    from mapreduce511_spark.queries import streaming_queries as sq

    def boom(stream_df, name, ckpt, **kwargs):
        assert os.path.isdir(os.path.dirname(ckpt))
        raise RuntimeError("drain failed")

    monkeypatch.setattr(sq, "run_available_now", boom)
    with pytest.raises(RuntimeError, match="drain failed"):
        sq.stream_tumbling_event_counts(spark, SF_SMOKE)
    runs = _per_run(made_dirs, "tumble")
    assert len(runs) == 1
    assert not os.path.exists(runs[0])


def test_clean_exit_leaves_no_mr511_dirs(tmp_path):
    """A process that runs streaming queries and exits normally takes
    its standing and shared-source dirs with it. Runs in a subprocess
    with its own TMPDIR, so other runs' dirs are not seen."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = textwrap.dedent(
        f"""
        import glob, tempfile
        from mapreduce511_spark.queries.streaming_queries import (
            stream_dedup_census,
            stream_tumbling_event_counts,
        )
        from mapreduce511_spark.session import get_spark

        spark = get_spark("scratch-exit", cpus=2, shuffle_partitions=4)
        for q in (stream_dedup_census, stream_tumbling_event_counts):
            q(spark, {SF_SMOKE!r}).count()
        print("live", len(glob.glob(tempfile.gettempdir() + "/mr511_*")))
        spark.stop()
        """
    )
    path = os.pathsep.join(
        filter(None, [str(REPO), os.environ.get("PYTHONPATH")])
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env={
            **os.environ,
            "PYTHONPATH": path,
            "TMPDIR": str(tmp),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        },
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    live = int(re.search(r"^live (\d+)$", proc.stdout, re.M).group(1))
    assert live >= 2  # the dedup standing and shared events dirs
    assert sorted(p.name for p in tmp.glob("mr511_*")) == []
