"""Session memos: a derived relation built once per session and input
snapshot, then reused by every query that needs it.

A memo entry is keyed by its first input path, the Spark
applicationId and a caller tag, and stores ``(signature, value)``
where the signature is the ``(mtime_ns, size)`` stat of every input.
Only the latest signature per key is kept, so a rewritten input
replaces its entry instead of adding one. Storing an entry drops the
entries of other applicationIds: their values (checkpointed frames,
catalog databases, staged dirs) belong to a stopped session and must
not be served after a restart in the same process. An input that
cannot be stat'ed (``hdfs://``, ``s3a://``, missing) would hide a
rewrite, so those calls build every time instead of memoizing.

Memo values that live on local disk (staged stream sources, fixture
trees) sit in dirs from ``owned_tmpdir``, which the process removes
when it exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager


def local_path(p: str) -> str:
    """``p`` with a ``file:`` scheme stripped; other paths unchanged."""
    return p[len("file:"):] if p.startswith("file:") else p


def warehouse_path(spark) -> str:
    """The session's ``spark.sql.warehouse.dir`` as a local path."""
    return local_path(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))


def stat_signature(paths) -> tuple | None:
    """``(mtime_ns, size)`` per path (a ``file:`` scheme is stripped),
    or None when any path cannot be stat'ed."""
    sig = []
    for p in paths:
        try:
            st = os.stat(local_path(p))
        except OSError:
            return None
        sig.append((st.st_mtime_ns, st.st_size))
    return tuple(sig)


def session_memo(store: dict, spark, paths, build, tag: tuple = ()):
    """``build()``'s value, memoized in ``store`` for this session and
    the current stat signature of ``paths``."""
    sig = stat_signature(paths)
    if sig is None:
        return build()
    app = spark.sparkContext.applicationId
    key = (paths[0], app, *tag)
    hit = store.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    val = build()
    for k in [k for k in store if k[1] != app]:
        del store[k]
    store[key] = (sig, val)
    return val


@contextmanager
def session_conf(spark, key: str, value: str | None):
    """Run the block with the session conf ``key`` set to ``value``
    (left as it is when ``value`` is None), then put back the value it
    had before, or unset it when it had none."""
    prev = spark.conf.get(key, None)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def owned_tmpdir(prefix: str) -> str:
    """A new ``mr511_<prefix>_*`` dir that lives until the interpreter
    exits. Only the creating pid removes it, so a forked child's exit
    leaves its parent's dirs in place."""
    path = tempfile.mkdtemp(prefix=f"mr511_{prefix}_")
    remove_at_exit(path)
    return path


def remove_at_exit(path: str) -> None:
    """Remove the local ``path`` when this process exits; a forked
    child's exit leaves it in place."""
    atexit.register(_remove_owned, path, os.getpid())


def _remove_owned(path: str, pid: int) -> None:
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)
