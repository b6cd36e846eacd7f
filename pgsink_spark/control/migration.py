"""Versioned control-schema migration runner — migrate-on-start for the
file-backed control plane (jobs queue + publication + registry roots).

Mirrors the reference's boot-time migration step (reference
internal/migration/migration.go:15-39: ensure the ``pgsink`` schema
exists, then ``goose.Up`` every registered migration, recording applied
versions in ``pgsink.schema_migrations``). The analogue here:

- the control ROOT directory is the schema (``CREATE SCHEMA IF NOT
  EXISTS`` → ``os.makedirs(root, exist_ok=True)``),
- ``schema_migrations.json`` is the goose version table: one record
  per applied migration ``{version, name, applied_at}``,
- each migration is an idempotent transform of the persisted control
  state, applied in ascending version order, atomically
  (temp-file + rename), under the same flock discipline the job queue
  uses — two drivers booting concurrently apply each version once.

The migration CHAIN reproduces the reference's recorded history
(internal/migration/2019…–2021…) as file-store transforms: the SQL
``ALTER TABLE import_jobs ADD COLUMN x DEFAULT d`` becomes "backfill
key x with default d on every persisted job record". Current writers
always emit the full record, so on a freshly-created store every step
is a no-op — the chain earns its keep when a root written by an OLDER
build (missing newer fields) is booted by a newer one, exactly the
operational story goose gives the reference.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

from pgsink_spark.imports.jobs import _flocked

VERSION_FILE = "schema_migrations.json"
JOBS_FILE = "jobs.json"


def _load_jobs(root: str) -> dict | None:
    path = os.path.join(root, JOBS_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _write_json(path: str, data: dict | list) -> None:
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".")
    with os.fdopen(fd, "w") as f:
        json.dump(data, f)
    os.replace(tmp, path)


def _save_jobs(root: str, data: dict) -> None:
    _write_json(os.path.join(root, JOBS_FILE), data)


def _jobs_lock(root: str):
    """The ImportJobStore's own file lock (f"{jobs_path}.lock", taken by
    ``ImportJobStore._locked``). Every jobs.json read-modify-write in a
    migration runs under it so a `migrate` against a LIVE root cannot
    interleave with a running server's store writes and clobber them
    (the schema_migrations lock only serializes migrators against each
    other, not against the store)."""
    return _flocked(os.path.join(root, f"{JOBS_FILE}.lock"))


def _backfill(root: str, key: str, default) -> None:
    """ALTER TABLE import_jobs ADD COLUMN key DEFAULT default — as a
    record backfill. No-op when the store doesn't exist yet or every
    record already carries the key."""
    with _jobs_lock(root):
        data = _load_jobs(root)
        if data is None:
            return
        changed = False
        for j in data.get("jobs", []):
            if key not in j:
                j[key] = default
                changed = True
        if changed:
            _save_jobs(root, data)


def _create_jobs_store(root: str) -> None:
    """CREATE TABLE import_jobs — an empty queue file with the
    ImportJobStore on-disk shape."""
    with _jobs_lock(root):
        path = os.path.join(root, JOBS_FILE)
        if not os.path.exists(path):
            _write_json(path, {"next_id": 1, "jobs": []})


# Canonical record shape as of the head of the chain — the reference's
# 20200510 drop+recreate pair rewrote the table to a cleaner structure;
# for a record store that is "every record carries exactly the fields
# the current ImportJob dataclass declares" (imports/jobs.py ImportJob),
# the claim lease included.
_CANONICAL_DEFAULTS = {
    "cursor": None,
    "completed_at": None,
    "expired_at": None,
    "error": None,
    "error_count": 0,
    "last_error_at": None,
    "rows_processed_total": 0,
    "lease_owner": None,
    "lease_at": None,
}


def _normalize_records(root: str) -> None:
    """The 20200510142436/20200510142527 drop+recreate: rewrite each
    record into the canonical structure, dropping keys the current
    schema doesn't declare (a column the old build wrote and the new
    build dropped) and stamping required timestamps."""
    with _jobs_lock(root):
        data = _load_jobs(root)
        if data is not None:
            _normalize_locked(data, root)
    if data is None:
        _create_jobs_store(root)


def _normalize_locked(data: dict, root: str) -> None:
    allowed = {
        "id",
        "subscription_id",
        "schema",
        "table_name",
        "created_at",
        "updated_at",
        *_CANONICAL_DEFAULTS,
    }
    changed = False
    now = time.time()
    for j in data.get("jobs", []):
        for k in [k for k in j if k not in allowed]:
            del j[k]
            changed = True
        for ts in ("created_at", "updated_at"):
            if ts not in j:
                j[ts] = now
                changed = True
    if changed:
        _save_jobs(root, data)


@dataclass(frozen=True)
class Migration:
    version: int  # goose timestamp version, matching the reference file
    name: str
    up: Callable[[str], None]  # receives the control root


# The chain, one entry per reference migration file
# (internal/migration/<version>_<name>.go), in version order.
MIGRATIONS: list[Migration] = [
    Migration(
        20191229145951,
        "create_import_jobs_table",
        _create_jobs_store,
    ),
    Migration(
        20200107164230,
        "add_error_column_to_import_jobs_table",
        lambda root: _backfill(root, "error", None),
    ),
    Migration(
        20200112133745,
        "add_subscription_name_to_import_jobs_table",
        lambda root: _backfill(root, "subscription_id", ""),
    ),
    Migration(
        20200112145911,
        "add_expired_at_to_import_jobs_table",
        lambda root: _backfill(root, "expired_at", None),
    ),
    Migration(
        20200510142436,
        "drop_import_jobs_table",
        # paired with the recreate below; the rewrite happens there so
        # a crash between the two never leaves the queue deleted
        lambda root: None,
    ),
    Migration(
        20200510142527,
        "create_import_jobs_table",
        _normalize_records,
    ),
    Migration(
        20200525133118,
        "add_error_column_to_import_jobs_table",
        lambda root: _backfill(root, "error", None),
    ),
    Migration(
        20210102200953,
        "add_schema_column_to_import_jobs",
        lambda root: _backfill(root, "schema", "public"),
    ),
    Migration(
        20210110203230,
        "alter_table_import_jobs_add_error_count",
        lambda root: _backfill(root, "error_count", 0),
    ),
    Migration(
        20210110210820,
        "alter_table_import_jobs_add_last_error_at",
        lambda root: _backfill(root, "last_error_at", None),
    ),
    Migration(
        20210216150109,
        "alter_table_import_jobs_add_progress",
        lambda root: _backfill(root, "rows_processed_total", 0),
    ),
]


def applied_versions(root: str) -> list[dict]:
    """The version table: [{version, name, applied_at}] in apply order."""
    path = os.path.join(root, VERSION_FILE)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


def migrate(root: str) -> list[int]:
    """Apply every unapplied migration in version order; return the
    versions applied by THIS call (empty on an up-to-date root).
    Idempotent and concurrency-safe: the whole up-pass runs under one
    flock, and each version is recorded immediately after its
    transform commits, so a crash mid-chain resumes at the first
    unapplied version."""
    os.makedirs(root, exist_ok=True)  # CREATE SCHEMA IF NOT EXISTS
    version_path = os.path.join(root, VERSION_FILE)
    applied_now: list[int] = []
    with _flocked(os.path.join(root, f"{VERSION_FILE}.lock")):
        records = applied_versions(root)
        done = {r["version"] for r in records}
        for m in sorted(MIGRATIONS, key=lambda m: m.version):
            if m.version in done:
                continue
            m.up(root)
            records.append(
                {
                    "version": m.version,
                    "name": m.name,
                    "applied_at": time.time(),
                }
            )
            _write_json(version_path, records)
            applied_now.append(m.version)
    return applied_now
