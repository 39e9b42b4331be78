"""The one staging primitive: :func:`stage` and its release scope
:func:`staged`.

:func:`stage` is ``df.localCheckpoint(eager)`` that also records the
JVM RDD id it pinned in the innermost open :func:`staged` scope of the
calling thread; outside any scope it is exactly ``localCheckpoint``.
The pin lives in the session-global persistent-RDD map until it is
unpersisted, so a long-running driver (a ``foreachBatch`` stream, a
nightly refresh) wraps each unit of work in ``with staged(spark):``,
which unpersists exactly the RDDs staged inside it on exit, on error
too:

- scopes are **thread-local**: ``foreachBatch`` runs a batch body on
  one thread, so its scope holds every pin the batch takes, including
  those inside called operators (connected-components rounds, band
  materialization), and nothing a concurrent thread takes;
- scopes **nest**: the innermost open scope owns a pin, and only its
  own scope releases it.

Cleanup never diffs the global map: another job sharing the session
(a second stream, a parallel batch query) that checkpoints during the
window keeps its RDD, which matters because ``localCheckpoint``
truncates lineage and a freed block is unrecoverable. The id is read
off the staged DataFrame's plan (``LogicalRDD.rdd``), the exact RDD
``localCheckpoint`` registered.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_SCOPE = threading.local()
_WARNED_EXTRACTION = False


def stage(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recording the pinned RDD id in the
    innermost open :func:`staged` scope of this thread (if any)."""
    out = df.localCheckpoint(eager)
    pins = getattr(_SCOPE, "pins", None)
    if pins is not None:
        try:
            pins.append(int(out._jdf.queryExecution().analyzed().rdd().id()))
        except Exception:
            # recording must never fail the query, but a silently inert
            # scope reverts every batch to unbounded pinned-RDD growth,
            # so warn ONCE per process: the leak signal, not an
            # eventual executor OOM
            global _WARNED_EXTRACTION
            if not _WARNED_EXTRACTION:
                _WARNED_EXTRACTION = True
                import warnings

                warnings.warn(
                    "stage: JVM RDD-id extraction failed; staged scopes "
                    "are inert and localCheckpoint RDDs will accumulate "
                    "until the session ends",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return out


@contextmanager
def _pins() -> Iterator[list[int]]:
    """Open a thread-local scope collecting the RDD ids :func:`stage`
    pins on this thread; the enclosing scope is restored on exit."""
    pins: list[int] = []
    prev = getattr(_SCOPE, "pins", None)
    _SCOPE.pins = pins
    try:
        yield pins
    finally:
        _SCOPE.pins = prev


def _release(spark: SparkSession, ids: list[int]) -> None:
    """Unpersist exactly the given persistent-RDD ids (non-blocking).
    Ids already gone are skipped; other jobs' RDDs are untouched by
    construction."""
    if not ids:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        want = set(ids)
        for entry in jmap.entrySet().toArray():
            if int(entry.getKey()) in want:
                entry.getValue().unpersist(False)
    except Exception:
        pass  # cleanup must never fail the caller


@contextmanager
def staged(spark: SparkSession) -> Iterator[None]:
    """Scope the pins :func:`stage` takes on this thread: every RDD
    staged inside the block is unpersisted when it exits, on error
    too."""
    with _pins() as pins:
        try:
            yield
        finally:
            _release(spark, pins)
