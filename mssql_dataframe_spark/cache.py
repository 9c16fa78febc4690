"""One owner for every cache the package makes.

Every ``persist`` in the package goes through :func:`keep`, and a
write verb's staged source through :func:`checkpoint`. Inside
:func:`scope`, the innermost open scope owns the frame and frees
it when the block exits, on success or on error, so an operator that
materializes its result before it returns leaves no cache behind.
Outside a scope the session owns it. That is for caches the returned
plan still reads (MinHash signatures, the k-means/PQ quantized
corpus): a long-lived session frees them with :func:`release` once it
is done with those results, and a released plan recomputes on its
next action. Scopes live on a ``contextvars`` stack, so threads do not
share them.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading
from collections.abc import Iterable, Iterator

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_SESSION: list[DataFrame] = []
_SESSION_LOCK = threading.Lock()
_SCOPES: contextvars.ContextVar[tuple[list[DataFrame], ...]] = (
    contextvars.ContextVar("mssql_dataframe_spark_cache_scopes", default=())
)


def keep(df: DataFrame, *, fill: bool = False) -> DataFrame:
    """Persist ``df`` under its owner and return the persisted frame,
    which readers and :func:`release` must use: ``unpersist`` matches
    only the exact plan. ``fill`` materializes it now, by one count
    job, instead of on the first action that reads it."""
    df = _own(df.persist())
    if fill:
        df.count()
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now, by one job, into the executors' block
    stores (``localCheckpoint``) and return the checkpointed frame: a
    leaf whose readers never re-execute ``df``'s plan. It is owned as
    :func:`keep` owns a frame."""
    return _own(df.localCheckpoint(eager=True))


def _own(df: DataFrame) -> DataFrame:
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    else:
        with _SESSION_LOCK:
            _SESSION.append(df)
    return df


@contextlib.contextmanager
def scope() -> Iterator[list[DataFrame]]:
    """Own the frames kept or checkpointed in the block (outside inner
    scopes) and release them on exit, on success or on error. Yields
    that list."""
    owned: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + (owned,))
    try:
        yield owned
    finally:
        _SCOPES.reset(token)
        _unpersist(owned)
        owned.clear()


def release(*frames: DataFrame) -> int:
    """Release ``frames`` or, given none, every frame the session owns;
    return how many. Safe at any time, also after the session stopped."""
    with _SESSION_LOCK:
        if frames:
            for owner in (_SESSION, *_SCOPES.get()):
                owner[:] = [f for f in owner if all(f is not g for g in frames)]
        else:
            frames = tuple(_SESSION)
            _SESSION.clear()
    _unpersist(frames)
    return len(frames)


def _unpersist(frames: Iterable[DataFrame]) -> None:
    for df in frames:
        try:
            if df.is_cached:
                df.unpersist()
            else:  # a checkpoint: unpersist() leaves its blocks behind
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Py4JError:  # the session already stopped: nothing to free
            pass
