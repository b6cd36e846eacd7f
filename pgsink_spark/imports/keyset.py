"""Keyset-paginated snapshot reads.

The reference's import scan is
``SELECT NOW(), cols FROM t [WHERE pk > $cursor] ORDER BY pk LIMIT n``
with the resume cursor = last pk read (pkg/imports/import.go:209-223) —
keyset pagination over the PK index, never OFFSET (README.md:31-33).

Two Spark shapes, used together:

- ``keyset_batch`` — the *resumable driver loop* step: one bounded,
  lazy page per call. Catalyst pushes ``pk > cursor`` into the source
  scan (JDBC pushdown / parquet min-max skipping), so each page reads
  only the tail it needs, exactly like the reference's index traversal.
  The page's next cursor and row count are observed by the same
  execution that writes it, so a page costs one Spark job, as the
  reference's page costs one query. This is the shape that keeps source
  transactions short (snapshot-timeout semantics) and survives
  restarts.
- ``partitioned_snapshot`` — the *parallel bulk* step: Spark's native
  range-partitioned read (JDBC ``partitionColumn/lowerBound/upperBound/
  numPartitions``) for the initial fill, when resumability matters less
  than throughput. At 1000 executors this is N concurrent range scans,
  no driver bottleneck.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# how long a page's observation may take to arrive after the action that
# ran the page returned; Spark reports it from its listener bus, which is
# normally milliseconds behind
OBSERVE_TIMEOUT_S = 10.0


def _pk_list(pk) -> list[str]:
    return [pk] if isinstance(pk, str) else list(pk)


def row_value_gt(pk_cols: list[str], cursor) -> Column:
    """Lexicographic row-value comparison ``(k1, k2, …) > (c1, c2, …)``
    as a Spark predicate — the composite-key keyset cursor the
    reference lacks (pkg/imports/import.go:235-270 refuses >1 pk
    column; real tables hit that constantly, so this engine extends
    the contract). Expanded form
    ``k1 > c1 OR (k1 = c1 AND (k2 > c2 OR …))`` so each leading-column
    equality chain stays sargable for pushdown."""
    cur = list(cursor) if isinstance(cursor, (list, tuple)) else [cursor]
    if len(cur) != len(pk_cols):
        raise ValueError(
            f"cursor arity {len(cur)} != pk arity {len(pk_cols)}"
        )
    pred = F.col(pk_cols[-1]) > F.lit(cur[-1])
    for name, val in zip(reversed(pk_cols[:-1]), reversed(cur[:-1])):
        pred = (F.col(name) > F.lit(val)) | (
            (F.col(name) == F.lit(val)) & pred
        )
    return pred


@dataclass
class KeysetPage:
    """One lazy keyset page: ``rows`` plus what its execution observed.

    ``rows`` is ``where(pk > cursor).orderBy(pk).limit(n)`` with an
    ``Observation`` of ``max(struct(pk))`` and ``count`` attached, so
    the one action that writes the page also yields its next cursor —
    the reference's single query (pkg/imports/import.go:209-223). The
    observation records the *first* execution of ``rows`` only; a caller
    that runs the page twice must compare counts (``Importer.run`` does).
    """

    rows: DataFrame
    pks: list[str]
    limit: int
    obs: Observation

    def observed(self) -> tuple[object | None, int, bool]:
        """``(next_cursor, n, done)`` from the execution that ran ``rows``.

        ``next_cursor`` is the max pk in the page (None when it is empty;
        a tuple for composite keys); ``done`` marks a page smaller than
        ``limit`` — the scan tail. Raises if no execution of ``rows``
        reported within ``OBSERVE_TIMEOUT_S``: ``Observation.get`` alone
        would block forever on a page that never ran.
        """
        deadline = time.monotonic() + OBSERVE_TIMEOUT_S
        # getRowOrEmpty waits up to 100 ms in the JVM per call
        while self.obs._jo.getRowOrEmpty().isEmpty():
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"keyset page never ran: no execution of it reported "
                    f"within {OBSERVE_TIMEOUT_S:g} s"
                )
        got = self.obs.get
        mx, n = got["mx"], got["n"]
        if mx is None:
            next_cursor = None
        elif len(self.pks) == 1:
            next_cursor = mx[0]
        else:
            next_cursor = tuple(mx)
        return next_cursor, n, n < self.limit


def keyset_batch(source: DataFrame, pk, cursor=None, limit: int = 5000) -> KeysetPage:
    """One keyset page, built lazily: running it is the caller's action.

    ``pk`` is a column name or a LIST of names (composite key —
    lexicographic row-value pagination). The page's rows are ordered by
    pk and bounded by ``limit``; ``pk > cursor`` reaches the source scan
    (JDBC pushdown / parquet min-max skipping) when the page runs.
    Building it runs no Spark job.
    """
    pks = _pk_list(pk)
    scan = source
    if cursor is not None:
        scan = scan.where(row_value_gt(pks, cursor))
    obs = Observation()
    # struct max orders lexicographically — one observed agg yields the
    # composite cursor without a second ordered scan
    rows = scan.orderBy(*pks).limit(limit).observe(
        obs, F.max(F.struct(*pks)).alias("mx"), F.count(F.lit(1)).alias("n")
    )
    return KeysetPage(rows, pks, limit, obs)


def partitioned_snapshot(
    source: DataFrame, pk, num_partitions: int = 32
) -> DataFrame:
    """Range-partitioned parallel snapshot (initial-fill path).

    ``repartitionByRange`` on the pk (full column list for composite
    keys) mirrors the JDBC partitioned read: each output partition is a
    contiguous pk range, so a downstream per-partition writer produces
    the same chunking the reference's cursor loop would, but N-way
    parallel.
    """
    return source.repartitionByRange(
        num_partitions, *[F.col(c) for c in _pk_list(pk)]
    )
