"""Import-job queue: persisted backfill work items.

Schema and semantics follow the reference's ``pgsink.import_jobs`` table
(structure.sql:36-50) and its worker claim loop:

- claim predicate: not completed, not expired, and either never errored
  or past the exponential-backoff deadline
  ``LEAST(max_backoff, retry_interval * 3^error_count)``
  (pkg/imports/worker.go:139-200, backoff at :147-161);
- never-errored jobs are claimed first (``ORDER BY error IS NULL DESC``);
- progress updates bump ``cursor`` and ``rows_processed_total``
  (pkg/imports/importer.go:143-160);
- acquiring is mutually exclusive ACROSS DRIVERS. The reference takes
  one row lock, ``FOR UPDATE SKIP LOCKED`` (pkg/imports/worker.go:
  165-187); here the claimed job's record carries a lease
  (``lease_owner``, ``lease_at``) in the queue file itself. Every
  operation is one read-modify-write of that file under its exclusive
  advisory lock, so the lease check and the stamp are one critical
  section, and two drivers changing different jobs never lose each
  other's writes. Progress renews the lease; release, complete, error
  and expire clear it. A lease older than ``lease_ttl_s`` (a crashed
  or stalled holder) may be taken over, and the old holder's later
  writes then leave the new holder's record alone.

Persistence is an atomically-replaced JSON file; swap for a Delta table
with optimistic transactions when the queue outgrows one filesystem.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import socket as _socket
import tempfile
import time
from dataclasses import asdict, dataclass, field


@contextlib.contextmanager
def _flocked(lock_path: str):
    """Exclusive advisory lock held for the block — the serialization
    primitive for every read-check-modify sequence on shared files
    (advisory is fine: all mutators in this module take it)."""
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


@dataclass
class ImportJob:
    id: int
    subscription_id: str
    schema: str
    table_name: str
    cursor: str | None = None
    completed_at: float | None = None
    expired_at: float | None = None
    error: str | None = None
    error_count: int = 0
    last_error_at: float | None = None
    rows_processed_total: int = 0
    created_at: float = field(default_factory=time.time)
    updated_at: float = field(default_factory=time.time)
    # the claim: which driver holds the job, and when it last claimed
    # or progressed it (both None while unclaimed)
    lease_owner: str | None = None
    lease_at: float | None = None


class ImportJobStore:
    """Driver-side job queue with reference claim/backoff semantics."""

    def __init__(
        self,
        path: str,
        retry_interval_s: float = 5.0,
        max_backoff_s: float = 3600.0,
        owner: str | None = None,
        lease_ttl_s: float = 300.0,
    ):
        self.path = path
        self.retry_interval_s = retry_interval_s
        self.max_backoff_s = max_backoff_s
        # claim identity: distinct per driver process (the pid in a
        # FOR UPDATE SKIP LOCKED world); tests inject fixed owners
        self.owner = owner or f"{_socket.gethostname()}:{os.getpid()}"
        self.lease_ttl_s = lease_ttl_s
        self._jobs: dict[int, ImportJob] = {}
        # job id -> the lease_at this store last stamped on it
        self._claimed: dict[int, float] = {}
        self._next_id = 1
        if os.path.exists(path):
            self._load()

    # -- persistence ----------------------------------------------------
    def _load(self) -> None:
        with open(self.path) as f:
            data = json.load(f)
        self._jobs = {j["id"]: ImportJob(**j) for j in data["jobs"]}
        self._next_id = data["next_id"]

    @contextlib.contextmanager
    def _locked(self):
        """The queue's one critical section: hold its flock and start
        from the file as it is now. A mutation made inside is written
        with ``_write`` before the lock drops, so no other driver's
        write lands between this one's read and its write."""
        with _flocked(f"{self.path}.lock"):
            if os.path.exists(self.path):
                self._load()
            yield

    def _write(self) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {
                    "next_id": self._next_id,
                    "jobs": [asdict(j) for j in self._jobs.values()],
                },
                f,
            )
        os.replace(tmp, self.path)

    def _holds(self, j: ImportJob) -> bool:
        """Whether this store may write ``j``: the lease is still the
        one it stamped or, for a job it never claimed, nobody holds
        one."""
        if j.id in self._claimed:
            return (j.lease_owner, j.lease_at) == (self.owner, self._claimed[j.id])
        return j.lease_owner is None

    # -- queue ops (reference manager.go / worker.go) -------------------
    def enqueue(self, subscription_id: str, schema: str, table_name: str) -> ImportJob:
        """Mint-and-write in one critical section: two drivers never
        mint the same ``next_id``."""
        with self._locked():
            job = ImportJob(self._next_id, subscription_id, schema, table_name)
            self._jobs[job.id] = job
            self._next_id += 1
            self._write()
        return job

    def backoff_s(self, error_count: int) -> float:
        """LEAST(max, interval * 3^errors) — reference worker.go:147-161."""
        return min(self.max_backoff_s, self.retry_interval_s * 3**error_count)

    def _claimable(self, j: ImportJob, now: float) -> bool:
        if j.completed_at is not None or j.expired_at is not None:
            return False
        if j.id in self._claimed:
            return False
        if j.lease_owner is not None and now - j.lease_at <= self.lease_ttl_s:
            return False  # a live lease: someone else's claim
        if j.error_count == 0:
            return True
        return now > (j.last_error_at or 0) + self.backoff_s(j.error_count)

    def claim(self, now: float | None = None) -> ImportJob | None:
        """Claim one job: never-errored first, then oldest (SKIP LOCKED
        semantics). One critical section under the queue lock loads
        the queue, picks the first claimable job whose lease is absent
        or older than ``lease_ttl_s``, stamps the lease ``(owner,
        now)`` and writes, so two stores over one queue path never
        hand out the same job. ``now`` both stamps and checks leases."""
        now = time.time() if now is None else now
        with self._locked():
            candidates = [j for j in self._jobs.values() if self._claimable(j, now)]
            if not candidates:
                return None
            job = min(candidates, key=lambda j: (j.error is not None, j.id))
            job.lease_owner, job.lease_at = self.owner, now
            self._write()
        self._claimed[job.id] = now
        return job

    def update_progress(self, job_id: int, cursor: str | None, rows: int) -> None:
        """Commit a page's cursor and rows, renewing the lease. Raises
        when the lease was taken over (or cleared by ``expire``), so
        the caller stops paging the job; its ``record_error`` or
        ``release`` then writes nothing."""
        with self._locked():
            j = self._jobs[job_id]
            if not self._holds(j):
                raise RuntimeError(
                    f"import job {job_id}: lease no longer held by {self.owner}"
                )
            j.cursor = cursor
            j.rows_processed_total += rows
            j.updated_at = time.time()
            if job_id in self._claimed:
                j.lease_at = self._claimed[job_id] = j.updated_at
            self._write()

    def _end_claim(self, job_id: int, change=None) -> None:
        """Apply ``change`` to the job and clear its lease in one write,
        unless another driver has taken the job over: then its record
        is left as that holder has it."""
        with self._locked():
            j = self._jobs[job_id]
            if self._holds(j):
                if change is not None:
                    change(j)
                j.lease_owner = j.lease_at = None
                self._write()
        self._claimed.pop(job_id, None)

    def release(self, job_id: int) -> None:
        self._end_claim(job_id)

    def record_error(self, job_id: int, message: str) -> None:
        def change(j: ImportJob) -> None:
            j.error = message
            j.error_count += 1
            j.last_error_at = j.updated_at = time.time()

        self._end_claim(job_id, change)

    def complete(self, job_id: int) -> None:
        def change(j: ImportJob) -> None:
            j.completed_at = j.updated_at = time.time()

        self._end_claim(job_id, change)

    def expire(self, schema: str, table_name: str) -> int:
        """Expire open jobs for a table (reference api/subscriptions.go:128-153).
        Clears their leases: a driver still paging one stops at its
        next progress commit."""
        n = 0
        with self._locked():
            for j in self._jobs.values():
                if (
                    j.schema == schema
                    and j.table_name == table_name
                    and j.completed_at is None
                    and j.expired_at is None
                ):
                    j.expired_at = j.updated_at = time.time()
                    j.lease_owner = j.lease_at = None
                    n += 1
            if n:
                self._write()
        return n

    def get(self, job_id: int) -> ImportJob:
        return self._jobs[job_id]

    def all(self) -> list[ImportJob]:
        """Full listing, refreshed from disk.

        The read path of the file-backed queue: another process (an
        import worker) may have progressed jobs since this store
        loaded, and the control API lists through this method — reload
        so status reflects the file, like a SELECT would.
        """
        if os.path.exists(self.path):
            self._load()
        return sorted(self._jobs.values(), key=lambda j: j.id)
