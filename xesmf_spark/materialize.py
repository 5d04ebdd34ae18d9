"""The registry of persisted intermediates — every frame the library
pins, and the one place that releases them (the analogue of
``esmf_regrid_finalize``'s destroy() chain, xesmf/backend.py:333-350).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` at the DataFrame default storage level and
    register it; returns the persisted frame.

    An operator pins, rather than unpersists before returning, every
    frame its LAZY result still reads: the caller's first action runs
    the plan, checkpoint chain included, after the operator has
    returned. The frame then stays cached until released — bounded,
    not a hard leak, since Spark evicts it LRU. Whoever owns the
    result releases it: :func:`release_persisted` (or
    ``spark.catalog.clearCache()``) for everything, as the bench does
    between timed runs; :func:`release` for the frames one owner
    pinned, as ``Regridder.finalize`` does; :func:`release_since` for
    what an operator pinned after a :func:`mark`, once a checkpoint
    has materialized it or on an early return or raise."""
    _PERSISTED.append(df.persist())
    return df


def mark() -> int:
    """The registry depth now; pass it to :func:`release_since` or
    :func:`pinned_since`."""
    return len(_PERSISTED)


def pinned_since(depth: int) -> list[DataFrame]:
    """The frames still registered above ``depth``, oldest first."""
    return _PERSISTED[depth:]


def release(frames: Sequence[DataFrame]) -> int:
    """Unpersist and deregister those of ``frames`` still registered,
    newest first; returns how many were released. A frame already
    released elsewhere is skipped."""
    n = 0
    for df in reversed(frames):
        if df in _PERSISTED:
            _PERSISTED.remove(df)
            df.unpersist()
            n += 1
    return n


def release_since(depth: int) -> int:
    """Release every frame pinned above ``depth`` (see :func:`mark`)."""
    return release(pinned_since(depth))


def release_persisted() -> int:
    """Unpersist every intermediate the library pinned in executor
    caches; returns how many were released."""
    return release_since(0)
