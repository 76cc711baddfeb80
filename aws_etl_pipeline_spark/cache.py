"""Session-scoped registry of persisted DataFrames.

Several operators pin an intermediate with ``persist()`` because it
feeds multiple branches of one query plan (LSH band rows, IVF norm
tables, k-means centroids, graph edge lists). Spark keeps those blocks
until the SparkContext dies, so a harness session that runs the whole
registry back-to-back used to accumulate every query's cache for the
lifetime of the session (round-6 advice).

``track(df)`` is the drop-in replacement for ``df.persist()``: it
persists and records the DataFrame. ``clear_persisted()`` unpersists
everything recorded — the harness boundaries call it BETWEEN queries
(never inside one: a query's returned plan still references its
tracked intermediates until its action has run):

  * ``__spark_entry__.queries()`` wraps each callable to clear the
    previous query's blocks before building the next plan;
  * ``bench.py`` clears after each timed rep's ``count()``;
  * ``tools/check.py`` clears after each query/oracle comparison.

Unpersisting is always correctness-neutral (a cleared plan recomputes),
so a stray early clear can cost time but never rows.

``bounded_collect(df, max_rows, what)`` brings a relation that a
driver-side loop consumes to the driver: it fetches at most
``max_rows + 1`` rows, raises ``BoundExceeded`` past the bound (the
caller then takes its distributed path) and logs
``collect <what> rows=<n> <ms> ms`` to stderr.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Row

from . import staging

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for the next harness-boundary
    :func:`clear_persisted` sweep."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def clear_persisted() -> int:
    """Unpersist every tracked DataFrame (non-blocking); returns how
    many were cleared. Safe to call at any time — worst case a plan
    recomputes."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to free
    return n


class BoundExceeded(RuntimeError):
    """A bounded collect found more than ``max_rows`` rows."""

    def __init__(self, what: str, max_rows: int):
        super().__init__(f"collect {what}: more than {max_rows} rows")
        self.what = what
        self.max_rows = max_rows


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list[Row]:
    """``df``'s rows, fetched with ``limit(max_rows + 1)``; raises
    :class:`BoundExceeded` if there are more than ``max_rows``."""
    t0 = time.perf_counter()
    rows = df.limit(max_rows + 1).collect()
    staging.log.info(
        "collect %s rows=%d %.0f ms", what, len(rows), (time.perf_counter() - t0) * 1e3
    )
    if len(rows) > max_rows:
        raise BoundExceeded(what, max_rows)
    return rows
