"""Deterministic cleanup for operator-internal persisted frames.

Several operators persist intermediate frames because their plan fans
out to 2+ consumers (re-running the upstream per consumer would repeat
the most expensive narrow stage — see the persist-site comments). The
returned result is LAZY, so the operator itself has no "after the final
action" point at which to unpersist; in a long-lived session repeated
calls would otherwise accumulate cached frames until executor storage
evicts under pressure (persist() defaults to MEMORY_AND_DISK_DESER, so
this degrades to disk spill rather than OOM — but deterministic release
is still better).

The pattern: an operator attaches its cached intermediates to the
result frame; the caller (or a with-block) releases them once done:

    pairs = cross_corpus_containment(a, b)
    pairs.collect()
    release_intermediates(pairs)

or::

    with released(cross_corpus_containment(a, b)) as pairs:
        pairs.collect()
"""
from __future__ import annotations

import contextlib
from typing import Iterable, Iterator

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_ATTR = "_feathr_cached_deps"


def attach_intermediates(result: DataFrame,
                         deps: Iterable[DataFrame]) -> DataFrame:
    """Record ``deps`` (persisted frames the result's plan reads) on the
    result so :func:`release_intermediates` can unpersist them later."""
    setattr(result, _ATTR, tuple(deps))
    return result


def cached_deps(result: DataFrame) -> tuple:
    """The intermediates attached to ``result`` (empty tuple if none) —
    for wrappers that build a NEW frame on top of an operator result and
    must carry its pending caches forward onto their own result."""
    return tuple(getattr(result, _ATTR, ()))


def release_intermediates(result: DataFrame) -> None:
    """Unpersist every cached intermediate attached to ``result``.

    Call after the FINAL action on the result; a no-op for frames with
    nothing attached. Blocking=False: eviction proceeds asynchronously.
    """
    for f in getattr(result, _ATTR, ()):
        try:
            f.unpersist()
        except Py4JError:
            pass  # session already stopped — nothing to release
    if hasattr(result, _ATTR):
        setattr(result, _ATTR, ())


@contextlib.contextmanager
def released(result: DataFrame) -> Iterator[DataFrame]:
    """Context manager form: release the attached intermediates on exit."""
    try:
        yield result
    finally:
        release_intermediates(result)
