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
"""

from __future__ import annotations

import os


def stat_signature(paths) -> tuple | None:
    """``(mtime_ns, size)`` per path (a ``file:`` scheme is stripped),
    or None when any path cannot be stat'ed."""
    sig = []
    for p in paths:
        try:
            st = os.stat(p[len("file:"):] if p.startswith("file:") else p)
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
