"""Engine error taxonomy.

Mirrors the reference's error surface (reference src/http_server.rs:143-199,
240-247: workspace-open failure, version-resolution failure, missing path),
re-expressed as typed Python exceptions instead of HTML error renders.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for all engine errors."""


class WorkspaceNotFound(EngineError):
    """The named workspace does not exist under the workspace mount.

    Reference parity: failing `Repository::open` (http_server.rs:143-151).
    """

    def __init__(self, name: str):
        self.name = name
        super().__init__(f"workspace not found: {name!r}")


class VersionNotFound(EngineError):
    """The requested version is neither a git short ref nor a commit prefix.

    Reference parity: resolution failure (http_server.rs:154-165).
    """

    def __init__(self, version: str):
        self.version = version
        super().__init__(f"version not found: {version!r}")


class PathNotFound(EngineError):
    """The sanitized path does not exist in the materialized snapshot.

    Reference parity: existence check (http_server.rs:240-247).
    """

    def __init__(self, path: str):
        self.path = path
        super().__init__(f"path not found: {path!r}")


class TableNotFound(EngineError):
    """A table name could not be resolved to a dataset in the workspace."""

    def __init__(self, table: str):
        self.table = table
        super().__init__(f"table not found: {table!r}")


class UnsupportedRelation(EngineError):
    """Workspace SQL reads a relation other than a workspace table."""


class DeniedCall(EngineError):
    """Workspace SQL would run code on the server's host: a Java method
    (``reflect``, ``java_method``, ``try_reflect``, or a function named
    by ``IDENTIFIER(...)``) or a script (``TRANSFORM ... USING``)."""


class StaleQuantizerError(EngineError):
    """An IVF/IVF-PQ index was probed (or its metadata loaded) with
    quantizer state that does not match the index's own generation
    stamp. Serving such a probe returns silently wrong neighbors
    (wrong cell assignment, wrong ADC offsets) — the contract is to
    fail loudly instead (operators/pq.py lifecycle)."""


class DivergentReplayError(EngineError):
    """A replayed ingest epoch carried DIFFERENT content than the
    attempt that committed (same epoch_id, different rows). Spark's
    replay contract for reliable sources promises identical re-delivery;
    a source that breaks it would otherwise leave an index holding a
    mix of both attempts with no symptom. The epoch-append protocol
    fingerprints every committed cell and raises this instead
    (operators/pq.py append_ivfpq_epoch)."""


class LeaseLostError(EngineError):
    """A maintenance protocol's commit-point fence found its lease
    gone or carrying another writer's token — a TTL takeover evicted
    this (still-alive) holder mid-protocol. The victim must abort
    before its remaining renames interleave with the new owner's
    (fsio.dir_lease.fence); every protocol is crash-recoverable, so
    the abort converges like a crash."""


class IndexBusyError(EngineError):
    """An index-maintenance op (retrain / compact / epoch-append) found
    the index's maintenance lease held by another live writer. The
    single-writer maintenance assumption is enforced, not assumed:
    concurrent maintenance on one index corrupts swap protocols whose
    crash recovery presumes exactly one in-flight writer (fsio.dir_lease)."""
