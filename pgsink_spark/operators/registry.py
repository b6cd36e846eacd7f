"""The query registry: every analytics query registers here.

A query is a function ``(spark, sf_dir) -> DataFrame`` decorated with
``@query(name, oracle)``; ``oracle`` is the equivalent DuckDB SQL over
the same parquet fixtures (omitted only for genuinely approximate ops,
which get rows-only checks). Registration happens when an operator
module is imported; ``load()`` imports all of them.

``driver_order`` ranks registered names for the correctness driver,
which checks the first 50 of ``queries()`` each round: stalest first,
read off the ``CORRECTNESS_r*.json`` ledger the driver writes.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Operator modules whose import registers queries, in registration order.
OPERATOR_MODULES = (
    "relational",
    "corpus",
    "curation",
    "dedup",
    "evaluation",
    "export",
    "formats",
    "graph",
    "ivm",
    "multimodal",
    "packing",
    "privacy",
    "retrieval",
    "sampling",
    "similarity",
    "skew",
    "streaming_q",
    "text",
    "tpch",
)


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load() -> dict[str, QueryFn]:
    """Import every operator module and return the filled registry."""
    for mod in OPERATOR_MODULES:
        importlib.import_module(f"pgsink_spark.operators.{mod}")
    return QUERIES


def driver_order(
    names: Iterable[str], ledgers: Sequence[Mapping[str, Mapping]]
) -> list[str]:
    """``names`` ranked stalest-first by the correctness ledger.

    ``ledgers`` holds one ``{name: row}`` mapping per round, oldest
    first, each in its file's row order. A name no round checked, or
    whose latest row is not green (``err`` is None and ``hash_match``),
    comes first; every other name follows by the round of its latest
    row, then by its position in that round. Ties keep the order of
    ``names``.
    """
    latest: dict[str, tuple[bool, int, int]] = {}
    for rnd, ledger in enumerate(ledgers):
        for pos, (name, row) in enumerate(ledger.items()):
            green = row.get("err") is None and bool(row.get("hash_match"))
            latest[name] = (green, rnd, pos)
    never = (False, -1, -1)
    return sorted(names, key=lambda name: latest.get(name, never))
