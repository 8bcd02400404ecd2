"""Session-scoped cache registry.

Operators that persist intermediate DataFrames (dedup signatures, the
canonicalization stage's per-form verdict) register them here so
long-lived driver sessions (notebooks, services, the bench loop) can
release the cached blocks once a query's final action has run, instead
of leaking them until session shutdown.  bench.py and the test session
fixture call ``release_persisted()`` between queries.

``localCheckpoint`` blocks (dedup's ``rp`` pairs, the kg graph loops,
the components closure) are not registered here:
``release_persisted()`` does not free them.  Spark's ContextCleaner
drops them once their DataFrame is garbage-collected on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df.persist()


def release_persisted() -> None:
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
