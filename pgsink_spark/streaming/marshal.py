"""Relation cache + tuple marshal: wire tuples → typed modification rows.

Reference semantics (pkg/subscription/changelog.go:22-124, marshal.go:
15-44): cache ``Relation`` messages by oid; for each DML, look up the
relation, decode each tuple element with its column's OID-keyed scanner,
and emit a ``map[column]value`` row. ``'n'`` elements are NULLs; an
``UPDATE`` with an unchanged-TOAST element keeps the old value when an
old tuple is present. The stream guarantee "Relation precedes that
relation's rows" (pkg/subscription/changelog.go:29-36) makes the cache
lookup safe; an unknown oid is therefore a protocol error.

Text-format decoding follows Postgres's documented text output for each
supported type (§1.3 registry); unsupported OIDs raise
``UnregisteredType`` — identical contract to the reference decoder.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, timezone
from decimal import Decimal
from typing import Callable

from pgsink_spark.changelog.types import UnregisteredType, _BY_OID
from pgsink_spark.streaming.decoder import (
    Delete,
    Insert,
    Relation,
    UNCHANGED,
    Update,
)
from pgsink_spark.streaming.sequence import SequencedMessage


def _parse_bool(s: str) -> bool:
    return s == "t"


def _parse_numeric(s: str) -> Decimal:
    """Decimal with the decoder's controlled error surface: corrupt
    text must raise ValueError, not decimal.InvalidOperation (an
    ArithmeticError that callers catching parse errors would miss —
    found by the junk-input parser property)."""
    try:
        return Decimal(s)
    except ArithmeticError as e:
        raise ValueError(f"invalid numeric literal: {s!r}") from e


def _parse_bytea(s: str) -> bytes:
    if s.startswith("\\x"):
        return bytes.fromhex(s[2:])
    raise ValueError(f"unsupported bytea encoding: {s[:8]!r}")


def _parse_timestamp(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _parse_timestamptz(s: str) -> datetime:
    # Postgres emits e.g. '2024-01-02 03:04:05.123+00'
    dt = datetime.fromisoformat(s)
    return dt.astimezone(timezone.utc) if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def _parse_array(elem: Callable, s: str) -> list:
    """Parse a one-dimensional Postgres array literal ``{a,b,NULL}``."""
    if not (s.startswith("{") and s.endswith("}")):
        raise ValueError(f"not an array literal: {s[:16]!r}")
    body = s[1:-1]
    if not body:
        return []
    out, cur, depth, in_q, i = [], [], 0, False, 0
    # a quoted token is always a value — PG writes the NULL sentinel
    # unquoted, and quotes any *string* that spells "NULL"
    quoted = False
    while i < len(body):
        ch = body[i]
        if in_q:
            if ch == "\\":
                cur.append(body[i + 1])
                i += 2
                continue
            if ch == '"':
                in_q = False
            else:
                cur.append(ch)
        elif ch == '"':
            in_q = True
            quoted = True
        elif ch == "{":
            depth += 1
            cur.append(ch)
        elif ch == "}":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append(("".join(cur), quoted))
            cur, quoted = [], False
        else:
            cur.append(ch)
        i += 1
    out.append(("".join(cur), quoted))
    return [
        None if tok == "NULL" and not q else elem(tok) for tok, q in out
    ]


_SCALAR_PARSERS: dict[str, Callable[[str], object]] = {
    "bool": _parse_bool,
    "bytea": _parse_bytea,
    "name": str,
    "int8": int,
    "int2": int,
    "int4": int,
    "text": str,
    "oid": int,
    "xid": int,
    "cid": int,
    "json": str,
    "float4": float,
    "float8": float,
    "varchar": str,
    "date": date.fromisoformat,
    "time": str,
    "timestamp": _parse_timestamp,
    "timestamptz": _parse_timestamptz,
    "numeric": _parse_numeric,
    "jsonb": str,
}


def text_parser_for(type_oid: int) -> Callable[[str], object]:
    """Text-format parser for a supported OID; UnregisteredType otherwise."""
    name = _BY_OID.get(type_oid)
    if name is None:
        raise UnregisteredType(type_oid)
    if name.startswith("_"):
        elem = _SCALAR_PARSERS[name[1:]]
        return lambda s: _parse_array(elem, s)
    return _SCALAR_PARSERS[name]


@dataclass(frozen=True)
class Modification:
    timestamp: datetime
    namespace: str
    name: str
    lsn: int
    sequence: int
    before: dict | None
    after: dict | None


class RelationCache:
    """oid → (Relation, per-column parsers)."""

    def __init__(self):
        self._rels: dict[int, Relation] = {}
        self._parsers: dict[int, list[Callable[[str], object]]] = {}

    def register(self, rel: Relation) -> None:
        self._rels[rel.oid] = rel
        self._parsers[rel.oid] = [text_parser_for(c.type_oid) for c in rel.columns]
        # precomputed (name, parser) pairs: decode_tuple runs once per
        # DML row, so attribute/zip construction is paid at relation
        # registration (rare) instead of per row (hot)
        self._cols: dict[int, list] = getattr(self, "_cols", {})
        self._cols[rel.oid] = [
            (c.name, p)
            for c, p in zip(rel.columns, self._parsers[rel.oid])
        ]

    def get(self, oid: int) -> Relation:
        try:
            return self._rels[oid]
        except KeyError:
            raise ValueError(
                f"relation oid {oid} seen before its Relation message"
            ) from None

    def decode_tuple(self, oid: int, tup: tuple, fallback: dict | None = None) -> dict:
        try:
            cols = self._cols[oid]
        except (AttributeError, KeyError):
            self.get(oid)  # raises the canonical unknown-oid error
            raise
        row: dict = {}
        for (name, parser), el in zip(cols, tup):
            if el is None:
                row[name] = None
            elif el is UNCHANGED:
                row[name] = (fallback or {}).get(name)
            else:
                row[name] = parser(el.decode("utf-8"))
        return row


def marshal(cache: RelationCache, sm: SequencedMessage) -> Modification | None:
    """SequencedMessage → Modification (None for non-DML)."""
    msg = sm.message
    if isinstance(msg, Relation):
        cache.register(msg)
        return None
    if isinstance(msg, Insert):
        after = cache.decode_tuple(msg.relation_oid, msg.new)
        before = None
    elif isinstance(msg, Update):
        old = msg.old or msg.key
        before = (
            cache.decode_tuple(msg.relation_oid, old) if old is not None else None
        )
        after = cache.decode_tuple(msg.relation_oid, msg.new, fallback=before)
    elif isinstance(msg, Delete):
        old = msg.old or msg.key
        before = cache.decode_tuple(msg.relation_oid, old)
        after = None
    else:  # Truncate and friends: recognized, ignored (reference parity)
        return None
    rel = cache.get(msg.relation_oid)
    return Modification(
        timestamp=sm.commit_time,
        namespace=rel.namespace,
        name=rel.name,
        lsn=sm.lsn,
        sequence=sm.sequence,
        before=before,
        after=after,
    )
