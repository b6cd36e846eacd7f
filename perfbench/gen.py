"""Seeded inputs for the benchmark: pgoutput captures and snapshot parquet.

The pgoutput encoder here is written from the PostgreSQL protocol manual
("Logical Replication Message Formats"), apart from the program's own
encoder, so that a fault shared by an encoder and the decoder cannot hide
from the checks. Every value is drawn from ``random.Random(seed)``; the same
seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

UTC = timezone.utc
PG_EPOCH = datetime(2000, 1, 1, tzinfo=UTC)
BACKLOG_BASE = datetime(2024, 6, 1, tzinfo=UTC)

# pg_type name -> OID (pg_type.dat)
TYPE_OIDS = {
    "bool": 16, "bytea": 17, "int8": 20, "int2": 21, "int4": 23,
    "text": 25, "jsonb": 3802, "float4": 700, "float8": 701,
    "varchar": 1043, "date": 1082, "timestamp": 1114,
    "timestamptz": 1184, "numeric": 1700, "_int4": 1007,
}


@dataclass(frozen=True)
class Col:
    name: str
    type: str
    key: bool = False
    nullable: bool = True


@dataclass(frozen=True)
class Table:
    oid: int
    name: str
    cols: tuple
    namespace: str = "public"

    @property
    def pk(self) -> str:
        return next(c.name for c in self.cols if c.key)


@dataclass(frozen=True)
class Change:
    table: str
    kind: str  # "I" insert, "U" update, "D" delete
    lsn: int
    seq: int
    before: tuple | None
    after: tuple | None


@dataclass
class Txn:
    lsn: int
    time: datetime
    relations: list = field(default_factory=list)
    changes: list = field(default_factory=list)


ACCOUNTS = Table(16401, "accounts", (
    Col("id", "int8", key=True, nullable=False),
    Col("balance", "numeric"),
    Col("active", "bool"),
    Col("updated_at", "timestamptz"),
    Col("owner", "text"),
))
EVENTS = Table(16402, "events", (
    Col("id", "int8", key=True, nullable=False),
    Col("kind", "varchar", nullable=False),
    Col("amount", "float8"),
    Col("qty", "int4"),
    Col("small", "int2"),
    Col("ratio", "float4"),
    Col("day", "date"),
    Col("at", "timestamp"),
    Col("attrs", "jsonb"),
    Col("note", "text"),
    Col("flag", "bool"),
    Col("total", "numeric"),
))
# every blob row carries a non-null bytea, so each change to it meets the
# bytea fault; the count of such commits depends only on BLOB_EVERY
BLOBS = Table(16403, "blobs", (
    Col("id", "int4", key=True, nullable=False),
    Col("data", "bytea", nullable=False),
    Col("tag", "text"),
))
# any array column stops the stream at its first batch, so this table
# runs in its own side capture
ARRAYS = Table(16404, "tagsets", (
    Col("id", "int8", key=True, nullable=False),
    Col("vals", "_int4", nullable=False),
))

BACKLOG_TABLES = (ACCOUNTS, EVENTS, BLOBS)
# The traffic mix below is assumed, not measured: the repository holds no
# capture of real traffic. README.md gives the reason for each value.
# changes per commit and table; blobs only in every BLOB_EVERY-th commit
ACCOUNT_CHANGES, EVENT_CHANGES, BLOB_CHANGES, BLOB_EVERY = 6, 24, 4, 4
HOT_ACCOUNTS, HOT_SHARE = 16, 0.7  # hot keys, and their share of updates/deletes
SAME_KEY_SHARE = 0.3  # a change hits the key of the change before
REINSERT_SHARE = 0.3  # an insert re-uses a deleted key
NULL_SHARE = 0.1  # a nullable value is NULL
# (insert, update, delete) weights
OP_WEIGHTS = {
    "accounts": (2, 15, 1),
    "events": (12, 5, 3),
    "blobs": (5, 3, 2),
}
ARRAY_COMMITS, ARRAY_ROWS = 3, 2

WORDS = ("alpha", "beta", "gamma", "delta", "rho", "sigma", "tau", "omega",
         "café", "naïve", "zürich", "ünïcode", "x", "")


# --- values ---------------------------------------------------------------

def value(rng: random.Random, typ: str):
    """A random Python value of a Postgres type."""
    if typ == "bool":
        return rng.random() < 0.5
    if typ == "bytea":
        return bytes(rng.randrange(256) for _ in range(rng.randrange(1, 24)))
    if typ == "int8":
        return rng.randrange(-2**62, 2**62)
    if typ == "int4":
        return rng.randrange(-2**31, 2**31)
    if typ == "int2":
        return rng.randrange(-2**15, 2**15)
    if typ in ("text", "varchar"):
        return " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 5)))
    if typ == "jsonb":
        return json.dumps({"k": rng.randrange(1000),
                           "tags": [rng.choice(WORDS[:8]) for _ in range(2)]})
    if typ == "float4":
        return rng.randrange(-2**20, 2**20) / 8.0  # exact in 32 bits
    if typ == "float8":
        return rng.randrange(-10**12, 10**12) / 1024.0
    if typ == "numeric":
        return Decimal(rng.randrange(-10**15, 10**15)).scaleb(-rng.randrange(0, 9))
    if typ == "date":
        return date(2020, 1, 1) + timedelta(days=rng.randrange(3000))
    if typ == "timestamp":
        return datetime(2020, 1, 1) + timedelta(microseconds=rng.randrange(10**14))
    if typ == "timestamptz":
        return datetime(2020, 1, 1, tzinfo=UTC) + timedelta(
            microseconds=rng.randrange(10**14))
    if typ == "_int4":
        return [rng.randrange(-1000, 1000) for _ in range(rng.randrange(4))]
    raise ValueError(typ)


def pg_text(typ: str, v) -> bytes | None:
    """Postgres text output of a value (what pgoutput carries)."""
    if v is None:
        return None
    if typ == "bool":
        s = "t" if v else "f"
    elif typ == "bytea":
        s = "\\x" + v.hex()
    elif typ in ("float4", "float8"):
        s = repr(v)
    elif typ == "numeric":
        s = format(v, "f")
    elif typ in ("date", "timestamp"):
        s = v.isoformat(sep=" ") if typ == "timestamp" else v.isoformat()
    elif typ == "timestamptz":
        s = v.astimezone(UTC).replace(tzinfo=None).isoformat(sep=" ") + "+00"
    elif typ == "_int4":
        s = "{" + ",".join(str(x) for x in v) + "}"
    else:
        s = str(v)
    return s.encode("utf-8")


def row(rng: random.Random, table: Table, key) -> tuple:
    out = []
    for c in table.cols:
        if c.key:
            out.append(key)
        elif c.nullable and rng.random() < NULL_SHARE:
            out.append(None)
        else:
            out.append(value(rng, c.type))
    return tuple(out)


# --- pgoutput wire encoding -----------------------------------------------

def _micros(t: datetime) -> int:
    d = t - PG_EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _tuple(table: Table, values: tuple) -> bytes:
    out = [struct.pack(">h", len(values))]
    for c, v in zip(table.cols, values):
        b = pg_text(c.type, v)
        out.append(b"n" if b is None else b"t" + struct.pack(">I", len(b)) + b)
    return b"".join(out)


def _relation(t: Table) -> bytes:
    out = [b"R", struct.pack(">I", t.oid), t.namespace.encode() + b"\0",
           t.name.encode() + b"\0", struct.pack(">Bh", ord("f"), len(t.cols))]
    for c in t.cols:
        out.append(struct.pack(">B", 1 if c.key else 0) + c.name.encode() + b"\0"
                   + struct.pack(">Ii", TYPE_OIDS[c.type], -1))
    return b"".join(out)


def encode_txn(txn: Txn, tables: dict) -> bytes:
    """One transaction as u32-length-framed pgoutput messages."""
    ts = _micros(txn.time)
    msgs = [b"B" + struct.pack(">QqI", txn.lsn, ts, txn.lsn // 100)]
    msgs += [_relation(t) for t in txn.relations]
    for ch in txn.changes:
        t = tables[ch.table]
        oid = struct.pack(">I", t.oid)
        if ch.kind == "I":
            msgs.append(b"I" + oid + b"N" + _tuple(t, ch.after))
        elif ch.kind == "U":
            msgs.append(b"U" + oid + b"O" + _tuple(t, ch.before)
                        + b"N" + _tuple(t, ch.after))
        else:
            msgs.append(b"D" + oid + b"O" + _tuple(t, ch.before))
    msgs.append(b"C" + struct.pack(">BQQq", 0, txn.lsn, txn.lsn + 1, ts))
    return b"".join(struct.pack(">I", len(m)) + m for m in msgs)


def write_capture(path: str, txns: list, tables: dict) -> None:
    with open(path, "ab") as f:
        for txn in txns:
            f.write(encode_txn(txn, tables))


# --- change streams -------------------------------------------------------

class TableState:
    """Live rows and deleted keys of one generated table."""

    def __init__(self, table: Table, hot: int = 0, first_key: int = 1):
        self.table = table
        self.hot = hot
        self.live: dict = {}
        self.dead: list = []
        self.next_key = first_key

    def change(self, rng: random.Random, lsn: int, seq: int, last_key=None) -> Change:
        w_ins, w_upd, w_del = OP_WEIGHTS[self.table.name]
        kind = "I" if not self.live else rng.choices("IUD", (w_ins, w_upd, w_del))[0]
        if kind == "I":
            if self.dead and rng.random() < REINSERT_SHARE:
                key = self.dead.pop(rng.randrange(len(self.dead)))  # re-insert
            else:
                key, self.next_key = self.next_key, self.next_key + 1
            after = row(rng, self.table, key)
            self.live[key] = after
            return Change(self.table.name, "I", lsn, seq, None, after)
        if last_key in self.live and rng.random() < SAME_KEY_SHARE:
            key = last_key  # several changes to one key inside one commit
        elif self.hot and rng.random() < HOT_SHARE:
            key = rng.choice(sorted(self.live)[: self.hot])
        else:
            key = rng.choice(list(self.live))
        before = self.live[key]
        if kind == "U":
            after = row(rng, self.table, key)
            self.live[key] = after
            return Change(self.table.name, "U", lsn, seq, before, after)
        del self.live[key]
        self.dead.append(key)
        return Change(self.table.name, "D", lsn, seq, before, None)


def _fill(rng, state: TableState, txn: Txn, n: int) -> None:
    """Append ``n`` changes; the sequence counts every message after
    Begin, relation messages included, as pgoutput consumers number them."""
    last = None
    for _ in range(n):
        seq = len(txn.relations) + len(txn.changes) + 1
        ch = state.change(rng, txn.lsn, seq, last)
        txn.changes.append(ch)
        last = (ch.after or ch.before)[0]


def backlog_txns(seed: int, commits: int) -> list:
    """Relations in a DML-free first transaction, then ``commits``
    transactions over accounts (hot keys), events and blobs."""
    rng = random.Random(seed)
    states = {
        "accounts": TableState(ACCOUNTS, hot=HOT_ACCOUNTS),
        "events": TableState(EVENTS),
        "blobs": TableState(BLOBS),
    }
    txns = [Txn(100, BACKLOG_BASE, relations=list(BACKLOG_TABLES))]
    for i in range(1, commits + 1):
        txn = Txn(100 * (i + 1), BACKLOG_BASE + timedelta(milliseconds=i))
        _fill(rng, states["accounts"], txn, ACCOUNT_CHANGES)
        _fill(rng, states["events"], txn, EVENT_CHANGES)
        if i % BLOB_EVERY == 0:
            _fill(rng, states["blobs"], txn, BLOB_CHANGES)
        txns.append(txn)
    return txns


def array_txns(seed: int) -> list:
    rng = random.Random(seed)
    txns = [Txn(100, BACKLOG_BASE, relations=[ARRAYS])]
    for i in range(1, ARRAY_COMMITS + 1):
        txn = Txn(100 * (i + 1), BACKLOG_BASE + timedelta(milliseconds=i))
        for j in range(ARRAY_ROWS):
            key = (i - 1) * ARRAY_ROWS + j + 1
            txn.changes.append(Change("tagsets", "I", txn.lsn, j + 1, None,
                                      row(rng, ARRAYS, key)))
        txns.append(txn)
    return txns


# --- snapshot tables for backfill -----------------------------------------

def backfill_tables(seed: int, sizes: dict) -> dict:
    """{name: pyarrow.Table} in heap order (shuffled, not pk order).
    ``customers`` is narrow, ``orders`` is wide; the pk is the first
    column, the importer's convention for snapshot sources."""
    import pyarrow as pa

    rng = random.Random(seed)
    out = {}
    n = sizes["customers"]
    ids = list(range(1, n + 1))
    rng.shuffle(ids)
    out["customers"] = pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": pa.array([value(rng, "text") for _ in ids], pa.string()),
        "active": pa.array([rng.random() < 0.5 for _ in ids], pa.bool_()),
        "score": pa.array([value(rng, "float8") for _ in ids], pa.float64()),
    })
    n = sizes["orders"]
    ids = [k * 7 + 3 for k in range(n)]  # sparse keys
    rng.shuffle(ids)

    def col(typ, null=NULL_SHARE):
        return [None if rng.random() < null else value(rng, typ) for _ in ids]

    out["orders"] = pa.table({
        "id": pa.array(ids, pa.int64()),
        "customer": pa.array([rng.randrange(1, 10**6) for _ in ids], pa.int64()),
        "qty": pa.array(col("int4"), pa.int32()),
        "small": pa.array(col("int2"), pa.int16()),
        "price": pa.array(col("float8"), pa.float64()),
        "ratio": pa.array(col("float4"), pa.float32()),
        "status": pa.array(col("varchar", 0), pa.string()),
        "note": pa.array(col("text"), pa.string()),
        "day": pa.array(col("date"), pa.date32()),
        "flag": pa.array(col("bool"), pa.bool_()),
        "total": pa.array([None if rng.random() < NULL_SHARE else
                           Decimal(rng.randrange(-10**9, 10**9)).scaleb(-2)
                           for _ in ids], pa.decimal128(12, 2)),
    })
    return out


def write_backfill(seed: int, sizes: dict, directory: str) -> dict:
    import pyarrow.parquet as pq

    tables = backfill_tables(seed, sizes)
    os.makedirs(directory, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"),
                       row_group_size=4096)
    return tables
