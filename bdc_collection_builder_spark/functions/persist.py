"""Tracked persists: bounded cache lifetime across a long query session.

Several plans ``persist()`` an intermediate their plan reads more than
once (graph edge lists, shingle tables, k-means assignments). The
DataFrames they return are lazy, so the query function itself cannot
unpersist after "its" action — it never sees the action. Left alone,
a driver session that runs every registered query accumulates every
such cache block in executor memory.

The registry's ``@query`` wrapper closes the loop: registering
persists through :func:`tracked_persist` and draining them at the NEXT
top-level query invocation — by which point the previous query's
action has run (the harness materializes each result before calling
the next), so unpersisting is safe, and accumulation is bounded to ONE
query's intermediates. Nested query calls (a registered fn composing
another) must not drain their caller's persists mid-plan, hence the
depth guard in :func:`query_scope`.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_DEPTH = 0


def tracked_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` that the registry unpersists at the next
    top-level query invocation. Use inside plan functions instead of a
    bare ``persist()``/``cache()``."""
    df = df.persist(storage_level) if storage_level is not None \
        else df.persist()
    _TRACKED.append(df)
    return df


def drain_tracked() -> int:
    """Unpersist every tracked DataFrame; returns how many."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — a dead session is fine
            pass
    return n


@contextmanager
def query_scope():
    """Wraps each registered query invocation: drains the previous
    query's tracked persists, but only at top level — nested query
    composition keeps the caller's persists alive."""
    global _DEPTH
    if _DEPTH == 0:
        drain_tracked()
    _DEPTH += 1
    try:
        yield
    finally:
        _DEPTH -= 1
