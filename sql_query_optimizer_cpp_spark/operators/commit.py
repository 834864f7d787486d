"""One commit loop and one post-commit sequence for every writer.

The six DML verbs — {DELETE, UPDATE, MERGE} × {copy-on-write
(:mod:`.mutate`), merge-on-read deletion vectors (:mod:`.mor`)} — differ
only in HOW they stage a change (a file rewrite, or a tombstone batch
plus appended copies); each commits locked by default or optimistically
with ``optimistic=True``.  ``compact`` and ``materialize_deletes`` are
two more stages of the same kind.  The protocol around the staging is
this one function, :func:`run`:

- **locked**: take the table's writer lock (bounded wait
  ``lock_wait_seconds``, default 0: a second writer is refused;
  re-entrant for the thread that owns an open :mod:`.txn` transaction),
  stage, enforce CHECK constraints, publish.  No validation, no retry —
  nothing can change under the lock.
- **optimistic** (the Delta/Iceberg commit loop; no reference analog —
  the reference parses UPDATE/DELETE and stops,
  ``engine/src/parser.cpp:232-296``): READ the table state and STAGE the
  change lock-free — the expensive Spark jobs; enforce constraints
  lock-free; take the lock with the bounded wait (default 30 s);
  ``validate()`` the snapshot the stage read; re-check constraints if
  the registered set changed meanwhile; publish.  A lost validation, a
  lock still held after the wait, or an input file deleted under the
  lock-free read (on a table that still exists) discards the staging and
  retries against the new committed state, up to ``max_attempts``; then
  :class:`ConcurrentWriteConflict`, and the table is unchanged by that
  caller.

Validation is by exact file-name set: part names are uuid-unique, so
name identity is content identity.  A point verb's conflict unit is the
FILE it read and replaces (a tombstone's file, for merge-on-read), so
writers on disjoint files — and so on disjoint partitions — both commit
on their first attempt and only the metadata swap serializes; the
in-lock re-list covers only the directories the attempt touched.
Writers on overlapping files serialize by retry: the loser re-evaluates
its predicate over the winner's committed rows, the serial-equivalent
outcome, never a lost update.  A copy-on-write MERGE's read set is the
WHOLE table (its NOT-MATCHED anti-join reads every file's keys to decide
what to insert), so its default ``isolation='serializable'`` requires
the table's file list to be exactly what the read saw;
``'write_serializable'`` validates only the files it rewrites.  Isolation
is snapshot-level (Delta's WriteSerializable analog): a retry re-reads
everything, but a first-attempt commit does not re-evaluate its
predicate over rows a concurrent writer inserted after its read.

Every writer — both modes of :func:`run`, ``restore_version``, and
transaction commit, rollback and recovery (:mod:`.txn`) — then runs the
one hook sequence :func:`committed` inside the lock it holds: the next
version manifest (:func:`~.versioning._autoversion`), bloom-index
refresh, the catalog's mutation and file-listing epochs, and a
path-scoped cache refresh — frames persisted over THIS table re-cache
lazily, every other cached frame in the session stays put.  Inside an
open transaction the manifest and the index refresh are deferred to the
transaction's commit; that deferral is checked there, once.  Hooks run
only when the statement changed something.

Staging dirs are registered in ``created`` BEFORE they are written, so
any failure up to the publish reclaims exactly this attempt's debris.
A publish makes its renames as one pooled :func:`~.storage.move`, which
is all-or-nothing: a rename that fails renames back the files already
moved before the error propagates, so the table reads as before the
statement (unless an undo rename fails too — the error then names the
files that stayed moved) and the staging stays in place for
:func:`~.mutate.repair_table` to reclaim.  Only a publish stopped
after renames it could not undo — a process that dies mid-move, or a
failed delete of the replaced files on a table that does not retain
them — leaves duplicate rows (old and new files side by side, never
loss); nothing recovers from that automatically yet.
"""

from __future__ import annotations

import contextlib
import warnings
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession

from ..catalog import mark_table_files_changed, mark_table_mutated
from . import constraints as _constraints
from .reader import _fs, _is_missing_file_error
from .storage import (
    _reclaim,
    _refuse_in_txn,
    _txn_state,
    _writer_lock,
    _WriterLockHeld,
)


@dataclass(frozen=True)
class MutationStats:
    """What a DML verb did — the executed analog of the reference's
    parse-only acknowledgement."""

    files_total: int
    files_rewritten: int
    rows_matched: int
    rows_inserted: int = 0

    def render(self) -> str:
        return (
            f"rewrote {self.files_rewritten}/{self.files_total} files, "
            f"{self.rows_matched} rows matched, "
            f"{self.rows_inserted} rows inserted"
        )


class ConcurrentWriteConflict(RuntimeError):
    """All optimistic attempts lost their validation race; the table is
    unchanged by this caller."""


def _no_conflict() -> str | None:
    return None


@dataclass
class Staged:
    """One attempt's staged change, ready to commit.

    ``publish(retain)`` moves it in (caller holds the writer lock;
    ``retain`` is the resolved retire-vs-delete policy when ``rewrites``).
    ``validate()`` runs in-lock in optimistic mode only and returns a
    conflict reason, or ``None`` when the stage's snapshot still holds.
    ``check`` lists the staged dirs CHECK constraints gate (``None``: the
    verb cannot introduce values, e.g. DELETE)."""

    stats: MutationStats
    publish: Callable[[bool], None] = lambda retain: None
    validate: Callable[[], str | None] = _no_conflict
    check: list[str] | None = None
    #: publish replaces existing files: resolve ``retain`` in-lock (the
    #: copy-on-write choke point that also refuses live-DV tables)
    rewrites: bool = False
    #: publish moves bytes without changing a row value (compact): the
    #: commit bumps the file-listing epoch only, ANALYZE stats stay exact
    layout_only: bool = False

    @property
    def changed(self) -> bool:
        s = self.stats
        return bool(s.files_rewritten or s.rows_matched or s.rows_inserted)


def _stage(spark, path, stage, created, optimistic) -> tuple[Staged, dict]:
    """Run ``stage`` and the CHECK-constraint gate over its output;
    returns the staged change and the constraint set checked.  A failure
    — or a statement that changed nothing — reclaims the staging."""
    try:
        st = stage(created, optimistic)
        checked = (
            _constraints._enforce_constraints(spark, path, st.check)
            if st.changed and st.check is not None
            else {}
        )
    except BaseException:
        _reclaim(spark, created)
        raise
    if not st.changed:
        _reclaim(spark, created)
    return st, checked


def _validate(spark, path, st: Staged, checked, created) -> str | None:
    """In-lock (optimistic mode): the stage's snapshot must still hold,
    and a constraint registered since the lock-free check must still gate
    the publish (add_constraint serializes on this lock, so inside it the
    set is stable).  Returns the conflict, if any."""
    try:
        conflict = st.validate()
        if (
            conflict is None
            and st.check is not None
            and _constraints.table_constraints(spark, path) != checked
        ):
            _constraints._enforce_constraints(spark, path, st.check)
    except BaseException:
        _reclaim(spark, created)
        raise
    return conflict


def committed(
    spark: SparkSession, path: str, *, version: bool = True,
    rows: bool = True,
) -> None:
    """The post-commit sequence every writer runs in the writer lock once
    its change is live on ``path``: the next version manifest, the bloom
    refresh, the catalog epochs, the path-scoped cache refresh.

    ``version=False``: the caller already wrote the manifest, or none is
    due (a rollback returns to the last one).  ``rows=False``: bytes moved
    but no row value changed, so only the file-listing epoch advances.
    Inside an open transaction the manifest and the index refresh wait
    for its commit, which writes one version for the whole batch."""
    from . import mor, versioning  # both commit through this module

    st = _txn_state(path)
    if st is not None:
        st.dirty = True
    else:
        if version:
            versioning._autoversion(spark, path)
        _refresh_indexes(spark, path)
    # the catalog's stats epoch (rows changed) or only its file-listing
    # epoch (compact): registered ANALYZE stats surface as stale instead
    # of being served silently
    with contextlib.suppress(Exception):
        (mark_table_mutated if rows else mark_table_files_changed)(
            spark, path
        )
    mor.refresh_cached(spark, path)


def _refresh_indexes(spark: SparkSession, path: str) -> None:
    """Post-commit bloom-index maintenance: re-index the files this DML
    just created, O(new files) per indexed column and one cheap dir
    listing when the table has no indexes.  Runs inside the writer lock
    (sidecar appends must not race another writer).  A failure degrades
    to always-candidate files — correctness never depends on this hook,
    so it warns instead of failing the already-committed mutation."""
    from . import fileindex, mutate

    if str(
        spark.conf.get(mutate.AUTO_REFRESH_INDEX_CONF, "true")
    ).lower() != "true":
        return
    try:
        fileindex.refresh_all_bloom_indexes(spark, path)
    except Exception as e:  # pragma: no cover - defensive
        warnings.warn(
            f"bloom index auto-refresh on {path} failed ({e}); point "
            "lookups stay correct (unindexed files are always "
            "candidates) — run refresh_bloom_index manually",
            stacklevel=2,
        )


def _default_retain(
    spark: SparkSession, path: str, retain: bool | None
) -> bool:
    """``retain=None`` (the verbs' default) auto-retains when the table has
    snapshot manifests: deleting superseded files out from under a pinned
    manifest would break time travel later and misdirect the blame at
    ``vacuum``.  Explicit ``False`` still deletes — the caller owns the
    consequences.

    Doubles as the mutual-exclusion choke point with the merge-on-read
    layer: every file-rewriting verb (classic + optimistic + compact)
    resolves its retain policy here, so this is the one place that can
    refuse rewriting a table carrying live deletion vectors — a COW
    rewrite reads the BASE files (underscore dirs invisible) and would
    resurrect MOR-deleted rows into the rewritten output while their
    tombstones still point at the replaced file names."""
    from . import mor, versioning

    if mor.has_deletion_vectors(spark, path):
        raise ValueError(
            f"copy-on-write DML refused: {path} carries live deletion "
            "vectors (merge-on-read layer); a rewrite would resurrect "
            "MOR-deleted rows. Run operators.mor.materialize_deletes "
            "first, then retry."
        )
    if retain is not None:
        return retain
    return bool(versioning.list_snapshots(spark, path))


def _publish(spark, path, st: Staged, retain, created) -> None:
    """In-lock: resolve retain, publish (which consumes every staging
    dir), run the post-commit sequence.  Anything raised before the
    publish starts reclaims the staging."""
    try:
        ret = _default_retain(spark, path, retain) if st.rewrites else False
    except BaseException:
        _reclaim(spark, created)
        raise
    st.publish(ret)
    committed(spark, path, rows=not st.layout_only)


def run(
    spark: SparkSession,
    path: str,
    stage: Callable[[list[str], bool], Staged],
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    retain: bool | None = None,
    what: str = "DML",
    _after_stage=None,
) -> MutationStats:
    """Commit one DML statement on ``path``; returns its stats.

    ``stage(created, optimistic)`` reads the table and writes the change
    to sibling staging dirs, registering each in ``created`` before
    writing it; ``optimistic`` tells it to also gather what
    ``validate()`` needs.  ``what`` names the statement in conflict
    errors.  ``lock_wait_seconds=None`` waits 0 s for the lock when
    locked (a busy table refuses) and 30 s when optimistic (the lock
    guards only the metadata swap).  ``_after_stage(attempt)`` is a test
    seam between the (lock-free) stage and the commit lock, optimistic
    mode only."""
    if lock_wait_seconds is None:
        lock_wait_seconds = 30.0 if optimistic else 0.0
    if not optimistic:
        created: list[str] = []
        with _writer_lock(spark, path, lock_wait_seconds):
            st, _ = _stage(spark, path, stage, created, False)
            if st.changed:
                _publish(spark, path, st, retain, created)
        return st.stats

    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")
    # under an open transaction the writer lock is re-entrant for the
    # owning thread, which would void the validate-and-publish's
    # exclusivity — and an optimistic verb inside a single-writer batch is
    # a contradiction anyway
    _refuse_in_txn(path, "optimistic DML")
    jvm, fs, jpath = _fs(spark, path)
    last_conflict = ""
    last_exc: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        created = []
        try:
            # a CHECK violation is terminal (the data is wrong, not the
            # timing), never a conflict to retry
            st, checked = _stage(spark, path, stage, created, True)
        except Exception as e:
            # the lock-free read can lose a file to a concurrent commit:
            # a conflict — but only if the TABLE still exists (a wrong
            # path matches the same Java classes and must surface as the
            # real error)
            if not _is_missing_file_error(e) or not fs.exists(jpath):
                raise
            last_conflict, last_exc = "<file vanished during read/stage>", e
            from .mor import refresh_cached

            refresh_cached(spark, path)
            continue
        if not st.changed:
            return st.stats
        try:
            if _after_stage is not None:
                _after_stage(attempt)
            # bounded wait: a long-running LOCKED verb can legitimately
            # hold the lock past it — a lost attempt, never the 'stale
            # lock, delete it' error
            lock = _writer_lock(spark, path, lock_wait_seconds)
            lock.__enter__()
        except _WriterLockHeld as e:
            _reclaim(spark, created)
            last_conflict = (
                f"<writer lock held past the {lock_wait_seconds:g}s wait>"
            )
            last_exc = e
            continue
        except BaseException:
            _reclaim(spark, created)
            raise
        try:
            conflict = _validate(spark, path, st, checked, created)
            if conflict is None:
                _publish(spark, path, st, retain, created)
        finally:
            lock.__exit__(None, None, None)
        if conflict is None:
            return st.stats
        # a concurrent commit changed what this attempt read: its staging
        # is stale — discard it and re-read
        last_conflict = conflict
        _reclaim(spark, created)
    raise ConcurrentWriteConflict(
        f"optimistic {what} on {path}: all {max_attempts} optimistic "
        f"attempt(s) lost validation (latest conflict: {last_conflict}); "
        "a concurrent writer kept changing what this statement read (or "
        "held the lock) — raise max_attempts or serialize these writers"
    ) from last_exc
