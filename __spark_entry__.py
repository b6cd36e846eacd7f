"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the corpus-curation pipeline:
lang-ID → quality → exact-dedup canonical election → split assignment)
at sf0.001.

``queries()`` — every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``, stalest first by the
``CORRECTNESS_r*.json`` ledger beside this file (the driver checks the
first 50 each round; see ``registry.driver_order``).

``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted only for
genuinely approximate / non-SQL ops, which get rows-only checks).
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from pgsink_spark.operators import registry
from pgsink_spark.operators import relational as _rel


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the corpus-curation pipeline (lang-ID → quality →
    exact-dedup canonical election → split assignment), the engine's
    training-data north star. One row-local pass + one fingerprint
    shuffle — see pgsink_spark/operators/curation.py."""
    registry.load()
    return _rel.QUERIES["pipeline_curation"](spark, "/root/testdata/sf0.001")


def _ledgers() -> list[dict]:
    """The driver's per-round ledgers beside this file, oldest first."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
    return [rounds[r] for r in sorted(rounds)]


def queries() -> dict[str, registry.QueryFn]:
    qs = registry.load()
    return {name: qs[name] for name in registry.driver_order(qs, _ledgers())}


def oracle_sql() -> dict[str, str]:
    registry.load()
    return dict(registry.ORACLES)
