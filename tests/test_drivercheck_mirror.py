"""Pin the drivercheck mirror's dtype sensitivity.

Round-2 postmortem: the driver's pandas comparator hashes values
dtype-faithfully — a DuckDB HUGEINT sum that lands as float64 does NOT
hash-equal a Spark int64 sum even when every value is numerically
identical (tpch_q12 failed the gate while the mirror's `%.9g`
normalization passed it). These tests make that blind spot impossible
to reintroduce: the mirror must FAIL an int64-vs-float64 fixture and
must KEEP the known driver equivalence of DATE vs midnight TIMESTAMP
(d14/d30 passed round 1 with Spark DATE against DuckDB datetime64[us]).
"""

import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from drivercheck import _canon, _hashable  # noqa: E402


def _h(df: pd.DataFrame):
    return _hashable(_canon(df))


def test_int64_vs_float64_mismatch():
    a = pd.DataFrame({"grp": ["N"], "n": pd.array([3954], dtype="int64")})
    b = pd.DataFrame({"grp": ["N"], "n": pd.array([3954.0], dtype="float64")})
    assert _h(a) != _h(b)


def test_bool_vs_int_mismatch():
    a = pd.DataFrame({"f": pd.array([True], dtype="bool")})
    b = pd.DataFrame({"f": pd.array([1], dtype="int64")})
    assert _h(a) != _h(b)


def test_same_kind_widths_match():
    # Kind-level, not width-level: the driver passed r1 queries where
    # engine integer widths differ; only the numeric KIND must agree.
    a = pd.DataFrame({"n": pd.array([7], dtype="int32")})
    b = pd.DataFrame({"n": pd.array([7], dtype="int64")})
    assert _h(a) == _h(b)


def test_date_vs_midnight_timestamp_match():
    a = pd.DataFrame({"d": pd.to_datetime(["2026-01-01"]).date})
    b = pd.DataFrame({"d": pd.to_datetime(["2026-01-01 00:00:00"])})
    assert _h(a) == _h(b)


def test_equal_floats_match():
    a = pd.DataFrame({"x": pd.array([1.25], dtype="float64")})
    b = pd.DataFrame({"x": pd.array([1.25], dtype="float64")})
    assert _h(a) == _h(b)
