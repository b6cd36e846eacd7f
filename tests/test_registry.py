"""The query registry and the driver order derived from the ledger.

No Spark session: these check registration and ordering only.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from pgsink_spark.operators import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ledger(n: int) -> dict:
    with open(os.path.join(ROOT, f"CORRECTNESS_r{n:02d}.json")) as f:
        return json.load(f)


def test_driver_order_reproduces_the_round11_window():
    """Ranking the registry over rounds 1–10 gives exactly the 50 rows
    the driver checked in round 11, in the same order."""
    ledgers = [_ledger(n) for n in range(1, 12)]
    # a query registered after round 11 has no row in these files and
    # would rank first; leave it out so this stays the round-11 check
    names = [n for n in entrymod.queries() if any(n in led for led in ledgers)]
    order = registry.driver_order(names, ledgers[:10])
    assert order[:50] == list(ledgers[10])


def test_queries_rank_the_registry_over_every_ledger_in_round_order():
    ledgers = entrymod._ledgers()
    assert ledgers[:11] == [_ledger(n) for n in range(1, 12)]
    qs = entrymod.queries()
    assert list(qs) == registry.driver_order(registry.load(), ledgers)
    assert set(entrymod.oracle_sql()) <= set(qs)
    assert "bloom_decontaminate" not in qs


def test_driver_order_rule_on_a_synthetic_ledger():
    green = {"err": None, "hash_match": True}
    failed = {"err": None, "hash_match": False}
    errored = {"err": "boom", "hash_match": None}
    r1 = {"a": green, "b": green, "c": failed, "d": green}
    r2 = {"e": green, "d": errored, "f": green}
    names = ["f", "e", "new2", "d", "c", "b", "a", "new1"]
    assert registry.driver_order(names, [r1, r2]) == [
        # never checked, in registration order
        "new2",
        "new1",
        # latest row not green, by (round, position)
        "c",
        "d",
        # green, stalest round first, then position in that round
        "a",
        "b",
        "e",
        "f",
    ]


def test_driver_order_breaks_ties_by_registration_order():
    row = {"err": None, "hash_match": True}
    assert registry.driver_order(["y", "x", "z"], [{"z": row}]) == ["y", "x", "z"]
    assert registry.driver_order(["x", "y"], []) == ["x", "y"]


def test_query_rejects_a_duplicate_name():
    qs = registry.load()
    name = next(iter(qs))
    before = qs[name]
    with pytest.raises(ValueError, match=name):
        registry.query(name)(lambda spark, sf_dir: None)
    assert qs[name] is before
