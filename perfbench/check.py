"""Checks made apart from the program: the fold of a generated changelog,
comparison of the program's outputs against it, and latency accounting.

Nothing here imports the program or Spark, so the tests run without them.
"""

from __future__ import annotations

import bisect
import math
from datetime import datetime, timezone

from gen import Table

# fault tag: a mismatch carrying it is a known fault, counted as a failed
# operation; any other mismatch makes the run incorrect
BYTEA_REPR = "bytea_repr"


def fold(changes) -> dict:
    """{table: {pk: row}} after applying changes in (lsn, seq) order; a
    delete removes the key, an insert or update sets its row."""
    state: dict = {}
    for ch in sorted(changes, key=lambda c: (c.lsn, c.seq)):
        rows = state.setdefault(ch.table, {})
        key = (ch.after or ch.before)[0]
        if ch.kind == "D":
            rows.pop(key, None)
        else:
            rows[key] = ch.after
    return state


def _norm(typ: str, v):
    if v is None:
        return None
    if typ == "bytea":
        return bytes(v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    if typ == "_int4":
        return list(v)
    return v


def diff_row(table: Table, expected: tuple, actual: tuple) -> list:
    """Column-wise differences as [(column, tag)]; tag is BYTEA_REPR when
    the stored bytes are the text of Python's ``bytes`` repr, else None."""
    out = []
    for c, e, a in zip(table.cols, expected, actual):
        e, a = _norm(c.type, e), _norm(c.type, a)
        if e == a:
            continue
        repr_fault = c.type == "bytea" and e is not None and a == str(e).encode()
        out.append((c.name, BYTEA_REPR if repr_fault else None))
    return out


def row_fault(table: Table, expected: tuple, actual: tuple) -> str | None:
    """"" when equal, a fault tag when the only differences are that known
    fault, None when the row is wrong in another way."""
    d = diff_row(table, expected, actual)
    if not d:
        return ""
    tags = {t for _c, t in d}
    return BYTEA_REPR if tags == {BYTEA_REPR} else None


KIND_OP = {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}


def check_raw(table: Table, changes: list, raw_rows: list) -> tuple[dict, list]:
    """Match raw rows (lsn, sequence, operation, payload tuple) one to one
    against the generated changes of one table.

    Returns ({lsn: fault-tag or ""} for every commit that touched the
    table, [problems]); a problem is any row missing, duplicated, extra,
    of the wrong operation or wrong beyond a known fault."""
    problems = []
    by_key = {}
    for r in raw_rows:
        k = (r[0], r[1])
        if k in by_key:
            problems.append(f"{table.name}: duplicate raw row {k}")
        by_key[k] = r
    status: dict = {}
    for ch in changes:
        r = by_key.pop((ch.lsn, ch.seq), None)
        status.setdefault(ch.lsn, "")
        if r is None:
            problems.append(f"{table.name}: missing change {(ch.lsn, ch.seq)}")
            continue
        if r[2] != KIND_OP[ch.kind]:
            problems.append(f"{table.name}: {(ch.lsn, ch.seq)} op {r[2]}")
        tag = row_fault(table, ch.after or ch.before, r[3])
        if tag is None:
            problems.append(f"{table.name}: {(ch.lsn, ch.seq)} payload {r[3]!r}")
        elif tag:
            status[ch.lsn] = tag
    problems += [f"{table.name}: extra raw row {k}" for k in sorted(by_key)]
    return status, problems


def check_view(table: Table, expected: dict, rows: list) -> list:
    """Compare a full compaction-view read with the fold of one table;
    rows that differ only by a known fault pass (their commits and
    probes count as failed). Returns [problems]."""
    problems, seen = [], set()
    for r in rows:
        key = r[0]
        if key in seen:
            problems.append(f"{table.name}: view key {key} twice")
        seen.add(key)
        if key not in expected:
            problems.append(f"{table.name}: view has deleted/unknown key {key}")
            continue
        if row_fault(table, expected[key], r) is None:
            problems.append(f"{table.name}: view row {key} = {r!r}")
    missing = set(expected) - seen
    if missing:
        problems.append(f"{table.name}: view lacks {len(missing)} keys")
    return problems


def check_probe(table: Table, expected: tuple | None, rows: list) -> str | None:
    """"" when a pk probe returned the fold's row (or nothing for an absent
    key), a fault tag for a known fault, None when wrong."""
    if expected is None:
        return "" if not rows else None
    if len(rows) != 1:
        return None
    return row_fault(table, expected, rows[0])


# --- latency accounting -----------------------------------------------------

def visible_latencies(schedule: list, publishes: list) -> list:
    """Per commit, the time from its scheduled time until it is visible.

    ``schedule`` is [(commit_lsn, due_s, tables touched)]; ``publishes``
    is [(return_s, table, max_lsn)], one per manifest commit, with the
    highest LSN that table's published snapshot holds. A commit is
    visible once, for every table it touched, a publish (in time order)
    has brought that table's running-max LSN up to the commit's LSN.
    Commits never made visible come back as None."""
    reach: dict = {}
    for t, table, lsn in sorted(publishes):
        times, tops = reach.setdefault(table, ([], []))
        times.append(t)
        tops.append(max(lsn, tops[-1]) if tops else lsn)
    out = []
    for lsn, due, tables in schedule:
        seen = due
        for table in tables:
            times, tops = reach.get(table, ([], []))
            i = bisect.bisect_left(tops, lsn)
            if i == len(tops):
                seen = None
                break
            seen = max(seen, times[i])
        out.append(None if seen is None else seen - due)
    return out


LADDER_PERMILLE = (999, 990, 950, 900, 750, 500)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it (50 when even the median has fewer)."""
    for pm in LADDER_PERMILLE:
        if n * (1000 - pm) >= 10 * 1000:
            return pm / 10.0
    return 50.0


def percentile(values: list, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]
