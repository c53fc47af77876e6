"""Git-backed versioned workspace catalog.

Reference parity (all citations into /root/reference):

- A workspace is a git repository directory under a ``workspaces/`` mount
  (src/http_server.rs:140-142); a *version* is a git short-ref name or a
  commit-id prefix, default ``"latest"`` meaning HEAD
  (src/http_server.rs:106-110, 154-165).
- Resolution order is short ref FIRST, commit prefix SECOND
  (src/http_server.rs:154-165) — preserved here exactly.
- A version is materialized by checking the resolved commit's tree out
  into a working directory (src/http_server.rs:125-134, 169-200). The
  reference creates a fresh random temp dir per request and never cleans
  it up (TODO at src/http_server.rs:133); we instead keep a
  content-addressed snapshot cache keyed by the resolved commit id, so a
  given (workspace, commit) is checked out at most once per process and
  concurrent readers share it.
- Paths inside a workspace are sanitized by dropping ``.``/``..``
  components and leading separators; empty means root
  (src/core.rs:30-46). Ported in :func:`sanitize_path`.

Spark integration: ``VersionedCatalog.resolve()`` happens driver-side
*before* planning — Spark then reads the materialized snapshot directory
like any other path, so every Catalyst optimization (pushdown, pruning)
applies unchanged. No custom DataSourceV2 is needed for correctness; the
catalog is deliberately a thin, testable layer.

At 100 TB scale the same design holds: version resolution is O(1) git
metadata work on the driver; the snapshot is a directory of immutable
files (parquet/csv) that executors read directly. For truly huge tables
the git repo would store *pointers* (paths/manifests) rather than data
blobs — the resolve step is format-agnostic.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import threading

from smallquery_spark.errors import PathNotFound, VersionNotFound, WorkspaceNotFound

LATEST = "latest"


def sanitize_path(path: str) -> str:
    """Sanitize a user-supplied workspace-relative path.

    Port of the reference sanitizer (src/core.rs:30-46): keep only normal
    components — drop ``.``, ``..``, root/prefix markers — and join the
    rest. Empty input (or input that sanitizes to nothing) means the
    workspace root, represented as ``""``.

    Property-tested in tests/test_workspace.py: the result never escapes
    the workspace root and the function is idempotent.
    """
    parts: list[str] = []
    for comp in pathlib.PurePosixPath(path).parts:
        if comp in (".", "..", "/", "\\"):
            continue
        # Windows-style drive/root prefixes can't occur in PurePosixPath
        # parts except as leading "/" handled above; keep plain names only.
        comp = comp.strip("/")
        if comp:
            parts.append(comp)
    return "/".join(parts)


def _git(repo: str, *args: str) -> str:
    out = subprocess.run(
        ["git", "-C", repo, *args],
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()


# -- reads inside a materialized snapshot directory ------------------------
# A request resolves its version once (Workspace.snapshot) and then reads
# through these, so none of them touches git.

# Table lookup order: the first of these that exists at the snapshot root,
# as a file or as a Spark-written directory, is the table.
TABLE_EXTENSIONS = (".parquet", ".csv", ".jsonl", ".json")


def snapshot_path(snap: str, path: str) -> str:
    """``path`` sanitized and joined onto snapshot dir ``snap`` ("" = root)."""
    rel = sanitize_path(path)
    return os.path.join(snap, rel) if rel else snap


def find_table(snap: str, table: str) -> str | None:
    """Data path of ``table`` in snapshot ``snap`` (``<table>`` plus the
    first of :data:`TABLE_EXTENSIONS` that exists), or None."""
    rel = sanitize_path(table)
    if not rel:
        return None
    for ext in TABLE_EXTENSIONS:
        full = os.path.join(snap, rel + ext)
        if os.path.exists(full):
            return full
    return None


def read_snapshot_file(snap: str, path: str) -> str:
    """Whole-file read as text."""
    full = snapshot_path(snap, path)
    if not os.path.isfile(full):
        raise PathNotFound(path)
    with open(full, encoding="utf-8") as f:
        return f.read()


def list_snapshot_dir(snap: str, path: str) -> list[str]:
    """Recursive listing: every file and directory under ``path``,
    including ``path`` itself — matching the reference's walkdir
    behavior (http_server.rs:255-265)."""
    root = snapshot_path(snap, path)
    if not os.path.isdir(root):
        raise PathNotFound(path)  # missing, or a file: listing needs a dir
    items: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        items.append(dirpath)
        for fn in sorted(filenames):
            items.append(os.path.join(dirpath, fn))
    return items


class Workspace:
    """One git-repository workspace under the catalog mount."""

    def __init__(self, name: str, repo_dir: str, cache_dir: str):
        self.name = name
        self.repo_dir = repo_dir
        self._cache_dir = cache_dir
        self._lock = threading.Lock()

    # -- version resolution (reference A1, http_server.rs:154-165) --------

    def resolve_version(self, version: str = LATEST) -> str:
        """Resolve a version string to a full commit id.

        Order matters and mirrors the reference: (1) ``latest`` → HEAD;
        (2) short ref name (branch/tag); (3) commit-id prefix.
        """
        if version == LATEST:
            try:
                return _git(self.repo_dir, "rev-parse", "HEAD")
            except subprocess.CalledProcessError as e:
                raise VersionNotFound(version) from e
        # (2) ref short name first
        try:
            return _git(
                self.repo_dir, "rev-parse", "--verify", f"refs/heads/{version}"
            )
        except subprocess.CalledProcessError:
            pass
        try:
            return _git(self.repo_dir, "rev-parse", "--verify", f"refs/tags/{version}^{{commit}}")
        except subprocess.CalledProcessError:
            pass
        # (3) commit prefix
        try:
            resolved = _git(self.repo_dir, "rev-parse", "--verify", f"{version}^{{commit}}")
            return resolved
        except subprocess.CalledProcessError as e:
            raise VersionNotFound(version) from e

    # -- snapshot materialization (reference A2, http_server.rs:169-200) ---

    def snapshot(self, version: str = LATEST) -> str:
        """Materialize the resolved commit into a cached snapshot dir.

        Content-addressed by commit id (fixes the reference's
        leak-a-temp-dir-per-request TODO, http_server.rs:133). Returns the
        snapshot directory path.
        """
        commit = self.resolve_version(version)
        dest = os.path.join(self._cache_dir, self.name, commit)
        if os.path.isdir(dest) and os.listdir(dest):
            return dest
        with self._lock:
            if os.path.isdir(dest) and os.listdir(dest):
                return dest
            # Unique tmp per process+thread: concurrent PROCESSES sharing
            # a cache dir must never interleave extractions into one tmp
            # path (and the loser of the publish race must not crash on
            # rename-onto-nonempty-dir). Readers only ever see `dest`
            # either absent or complete — os.rename is atomic.
            tmp = f"{dest}.tmp.{os.getpid()}.{threading.get_ident()}"
            os.makedirs(tmp, exist_ok=True)
            try:
                # `git archive | tar -x` materializes the tree without
                # touching the repo's worktree/index — safe under
                # concurrency (a writer committing concurrently only
                # moves refs; the commit object itself is immutable).
                archive = subprocess.run(
                    ["git", "-C", self.repo_dir, "archive", commit],
                    capture_output=True,
                    check=True,
                )
                subprocess.run(
                    ["tar", "-x", "-C", tmp], input=archive.stdout, check=True
                )
                try:
                    os.rename(tmp, dest)
                except OSError:
                    # another process published this commit first — its
                    # snapshot is identical (content-addressed by commit)
                    if not (os.path.isdir(dest) and os.listdir(dest)):
                        raise
            finally:
                if os.path.isdir(tmp):
                    import shutil

                    shutil.rmtree(tmp, ignore_errors=True)
        return dest

    # -- reads (reference A3/A4, http_server.rs:249-265) -------------------

    def read_file(self, path: str, version: str = LATEST) -> str:
        """Whole-file read as text (reference A3)."""
        return read_snapshot_file(self.snapshot(version), path)

    def list_dir(self, path: str = "", version: str = LATEST) -> list[str]:
        """Recursive listing of ``path`` at ``version`` (reference A4)."""
        return list_snapshot_dir(self.snapshot(version), path)

    def table_path(self, table: str, version: str = LATEST) -> str:
        """Resolve a table name to a concrete data path in the snapshot
        (lookup rule: :func:`find_table`)."""
        path = find_table(self.snapshot(version), table)
        if path is None:
            raise PathNotFound(table)
        return path

    # -- bucketed materialization (engine feature, VERDICT r5 item 5) ------

    def materialize_bucketed(
        self,
        spark,
        table: str,
        key: str,
        n_buckets: int,
        version: str = LATEST,
    ) -> str:
        """Materialize a bucketed copy of a versioned table; return the
        managed table name.

        The catalog half of the at-rest layout story
        (operators/bucketing.py, ATREST_gen100.json): the workspace
        resolves ``version`` to an immutable commit, and the bucketed
        copy is content-addressed by ``workspace@commit:table`` +
        ``(key, n_buckets)`` — re-calling on the same data version
        reuses the existing layout (pay the fact-table shuffle once),
        while a NEW commit of the table naturally materializes a new
        copy. This is the reference's "versioned derived artifact"
        posture (README.md:7-8) applied to physical layout.
        """
        from smallquery_spark.operators.bucketing import (
            materialize_bucketed as _materialize,
        )
        from smallquery_spark.sources import read_any

        commit = self.resolve_version(version)
        path = self.table_path(table, version)
        df = read_any(spark, path)
        identity = f"{self.name}@{commit}:{sanitize_path(table)}"
        return _materialize(spark, df, identity, key, n_buckets)


class VersionedCatalog:
    """The workspace mount: a directory of git-repo workspaces.

    Reference parity: mount join (http_server.rs:140-142) + repo-open
    error (http_server.rs:143-151).
    """

    def __init__(self, mount: str, cache_dir: str | None = None):
        self.mount = mount
        self.cache_dir = cache_dir or os.path.join(mount, ".snapshots")
        self._workspaces: dict[str, Workspace] = {}
        self._lock = threading.Lock()

    def workspace(self, name: str) -> Workspace:
        with self._lock:
            if name in self._workspaces:
                return self._workspaces[name]
        repo_dir = os.path.join(self.mount, sanitize_path(name))
        if not os.path.isdir(os.path.join(repo_dir, ".git")) and not os.path.isfile(
            os.path.join(repo_dir, "HEAD")
        ):
            raise WorkspaceNotFound(name)
        ws = Workspace(name, repo_dir, self.cache_dir)
        with self._lock:
            self._workspaces.setdefault(name, ws)
        return ws

    def list_workspaces(self) -> list[str]:
        if not os.path.isdir(self.mount):
            return []
        out = []
        for entry in sorted(os.listdir(self.mount)):
            full = os.path.join(self.mount, entry)
            if os.path.isdir(os.path.join(full, ".git")) or os.path.isfile(
                os.path.join(full, "HEAD")
            ):
                out.append(entry)
        return out


def write_table_version(
    ws: "Workspace",
    df,
    table: str,
    message: str,
    tag: str | None = None,
    max_rows: int = 100_000,
) -> str:
    """Commit a DataFrame as a new version of ``table`` in the workspace
    (the write half of "versioning control for data transformations",
    /root/reference/README.md:7-8). Returns the new commit id.

    The result is collected through Arrow and committed as the table's
    CSV (:func:`commit_table`). Result tables at the IDE surface are
    post-aggregation and small; bulk data stays in parquet outside the
    git layer — ``max_rows`` enforces that contract (fail fast BEFORE
    collecting, so this driver-side path can never OOM on an
    unaggregated fact table — VERDICT r1 item 6)."""
    import pyarrow as pa

    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"write_table_version is a small-result path (> {max_rows} rows);"
            " write bulk data to parquet with df.write instead"
        )
    return commit_table(
        ws, pa.Table.from_batches(df._collect_as_arrow()), table, message, tag
    )


def commit_table(
    ws: "Workspace", tbl, table: str, message: str, tag: str | None = None
) -> str:
    """Write Arrow table ``tbl`` as ``<table>.csv`` in the repo worktree,
    commit it and apply ``tag``; returns the commit id. The one git writer
    behind ``write_table_version`` and the ``gitws`` sink.

    Hardening (ADVICE r1): only the written table file is staged (a
    stray file in the worktree is never swept into the data version),
    an unchanged table returns the existing commit id (still tagged)
    instead of making an empty commit, and the workspace lock serializes
    concurrent writers."""
    import pyarrow.csv as pacsv

    rel = sanitize_path(f"{table}.csv")
    with ws._lock:
        pacsv.write_csv(tbl, os.path.join(ws.repo_dir, rel))
        _git(ws.repo_dir, "add", "--", rel)
        staged = subprocess.run(
            ["git", "-C", ws.repo_dir, "diff", "--cached", "--quiet"],
            capture_output=True,
        ).returncode
        if staged != 0:  # something to commit
            # the caller's env (e.g. a data-source Python worker) may carry
            # no git identity — pass one
            _git(
                ws.repo_dir,
                "-c", "user.name=smallquery",
                "-c", "user.email=engine@smallquery",
                "commit", "-m", message,
            )
        commit = _git(ws.repo_dir, "rev-parse", "HEAD")
        if tag:
            _git(ws.repo_dir, "tag", tag)
    return commit
