"""Replicates the driver's t2 gate locally: every query with an oracle
must hash-match DuckDB on the same parquet tables.

Runs at sf0.001 by default (fast); set SPARK_GRAFT_PARITY_SF to the
sf0.01 dir to mirror the driver exactly.
"""

from __future__ import annotations

import hashlib
import os
import re

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_check import compare, run_oracle

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", SF_SMOKE)


def _suite():
    from mapreduce511_spark import queries as suite

    q = suite.all_queries()
    o = suite.all_oracles()
    return q, o


def test_every_oracle_has_query():
    q, o = _suite()
    assert set(o) <= set(q)


def test_oracle_text_is_pinned():
    """The registered oracle text, whitespace-folded, hashes to a fixed
    digest: refactoring how an oracle is assembled (shared forms in
    ``queries/oracle_sql.py``, module constants) must not change a
    single character of what DuckDB runs. A change that alters an
    oracle on purpose updates the count and digest here and says why
    in CHANGES.md."""
    fold = lambda s: re.sub(r"\s+", " ", s).strip()  # noqa: E731
    _, o = _suite()
    h = hashlib.sha256()
    for name in sorted(o):
        h.update(name.encode() + b"\0" + fold(o[name]).encode() + b"\0")
    assert len(o) == 288
    assert h.hexdigest() == (
        "4e757d6be4decfcef3fd7a8cc74c3d19f4b8def65b8dcf8373bb9f23b7311d29"
    )


@pytest.mark.parametrize("name", sorted(_suite()[1]))
def test_parity(spark, name):
    q, o = _suite()
    df = q[name](spark, SF_DIR)
    oracle_df = run_oracle(o[name], SF_DIR)
    problems = compare(df, oracle_df)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", sorted(set(_suite()[0]) - set(_suite()[1])))
def test_rows_only_queries_run(spark, name):
    """Queries without an oracle still must run and have a stable schema."""
    q, _ = _suite()
    df = q[name](spark, SF_DIR)
    assert df.columns
    assert df.count() >= 0
