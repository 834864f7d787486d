"""Multi-statement transactions over the copy-on-write version log.

No reference analog — the reference parses single DML statements and
stops (``engine/src/parser.cpp:232-296``); this is the Delta-style
"one commit for a batch of verbs" shape the version log was built for:
every mutating verb in :mod:`.mutate` / :mod:`.mor` already stages its
change and then commits ONE manifest inside the writer lock, so a
transaction is exactly that choke point held open across verbs.

One implementation, :class:`MultiTableTransaction`; a single-table
:class:`Transaction` is that class over one path.  How it works (all
metadata, no new data paths):

1. ``begin(spark, path)`` / ``begin_multi(spark, paths)`` take every
   member table's physical writer lock (canonical path order) and
   register the transaction (``storage._ACTIVE_TXNS``).  From here each
   lock is RE-ENTRANT for this thread only: every existing verb —
   ``update_where``, ``delete_where``, ``merge_into``, ``compact``,
   ``materialize_deletes``, the ``dv_*`` merge-on-read verbs,
   ``execute_dml`` text statements — runs unmodified inside the
   transaction, while any other thread or process still hits the lock
   file and refuses (single-writer, as ever).
2. Each verb stages + swaps as normal, and its post-commit sequence
   (:func:`~.commit.committed`) marks the table dirty instead of writing
   a version manifest and refreshing the bloom index.  Intermediate
   states are visible to bare-path readers — the same contract those
   readers always had on an in-progress verb — while version readers
   (``read_version`` / ``sql_at`` / CDC) see only committed manifests.
3. ``commit()`` writes ONE version manifest per dirty table (the
   live-state delta against the previous version IS the composed diff,
   so CDC over it emits the NET change of the batch), then runs the
   post-commit sequence once per table and releases the locks.  With
   exactly one dirty table the manifest's exclusive create is the atomic
   commit point and no marker is written; with several, see below.
4. ``rollback()`` restores each dirty table's live file set to its last
   committed manifest: files the batch retired move back from
   ``_retired/`` (the rename plan ``restore_version`` uses), files the
   batch created are deleted — they are provably unpinned, since no
   manifest was written after their (globally unique) names came into
   existence.

Several dirty tables commit TWO-PHASE: prepare every table's next
manifest under a ``.prep`` name, decide with one exclusive-create marker
file, then rename all.  The atomicity is DURABILITY-level: a crash after
the marker rolls forward, before it rolls back (:func:`recover_tables`),
so recovery always converges to all-tables-committed or none.  A
concurrent version reader CAN catch the brief FINISH window where some
members already show the new version and others do not (filesystem
renames are per-table; closing that window needs a shared catalog).

Crash contract: a transaction that dies before commit/rollback leaves
the lock files and an uncommitted live state.  Nothing is lost (retire
moves, never deletes) and no version was committed, so version readers
never saw the partial batch; :func:`recover_table` /
:func:`recover_tables` re-run the rollback plan and remove the stale
locks once the operator confirms the writer is dead (``force=True``).

At 100 TB this is the same cost model as the verbs themselves: the
transaction adds zero data I/O — one deferred manifest write per table
(plus one marker when several commit), and a rename/delete plan
O(files the batch touched) on rollback.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import SparkSession

from .commit import committed
from .reader import _fs, _hpath
from .storage import (
    _ACTIVE_TXNS,
    LOCK_FILE,
    SNAPSHOT_DIR,
    _acquire_writer_lock,
    _delete_files,
    _read_small_file,
    _reclaim,
    _release_writer_lock,
    _txn_key,
    _TxnState,
    _write_small_file,
    move,
)
from .versioning import (
    _VersionLog,
    _autoversion,
    _compose_next_manifest,
    _restore_files,
    table_versions,
)

__all__ = [
    "Transaction",
    "MultiTableTransaction",
    "RecoveryNeedsForce",
    "UndecidedCommitDebris",
    "begin",
    "begin_multi",
    "recover_table",
    "recover_tables",
]


class RecoveryNeedsForce(RuntimeError):
    """A writer lock still exists on a table being recovered: the
    operator must confirm the holder is dead (``force=True``) before
    recovery may delete it.  Typed so callers (the REPL's RECOVER verb)
    can offer the FORCE hint without string-matching error text."""


class UndecidedCommitDebris(RuntimeError):
    """A table holds a prepared multi-table manifest but no decision
    marker was found in the passed set: either the coordinator table is
    missing from the call (rolling back would destroy a decided commit)
    or the crash genuinely happened before the decision — only the
    operator can tell (``assume_undecided=True`` / the REPL's UNDECIDED
    token confirms the latter)."""


def _rollback_to_committed(spark: SparkSession, path: str) -> int:
    """Make the live file set (data + deletion-vector batches) equal the
    last committed manifest again; returns files that changed liveness.
    Restores retired files FIRST (crash mid-rollback ⇒ superset, never
    loss), then DELETES the uncommitted extras: created after the last
    commit, so no manifest pins them (COW staging never reuses names)."""
    log = _VersionLog(spark, path)
    last = log.versions[-1]
    restored, extras, _ = _restore_files(
        spark, path, log.states(last)[last], "transaction rollback"
    )
    _delete_files(spark, extras)
    if restored or extras:
        committed(spark, path, version=False)
    return restored + len(extras)


MULTI_COMMIT_MARKER = ".multi_commit.marker"  # not *.json: invisible to
#                                               list_snapshots/table_versions


def _marker_path(path: str) -> str:
    return f"{path.rstrip('/')}/{SNAPSHOT_DIR}/{MULTI_COMMIT_MARKER}"


def _prep_path(path: str, version: int) -> str:
    # .prep suffix (not *.json): invisible to list_snapshots until the
    # commit rename makes it a real manifest
    return f"{path.rstrip('/')}/{SNAPSHOT_DIR}/v{version:08d}.json.prep"


def _final_path(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/{SNAPSHOT_DIR}/v{version:08d}.json"


def _list_prep_debris(spark: SparkSession, path: str) -> list[str]:
    _, fs, _ = _fs(spark, path)
    snap = _hpath(spark, f"{path.rstrip('/')}/{SNAPSHOT_DIR}")
    if not fs.exists(snap):
        return []
    return [
        st.getPath().toString()
        for st in fs.listStatus(snap)
        if st.getPath().getName().endswith(".json.prep")
    ]


def _finish_multi_commit(spark: SparkSession, marker_abs: str) -> int:
    """Roll a decided multi-table commit FORWARD: rename every prepared
    manifest to its final version name (idempotent — already-renamed
    members are skipped), then delete the marker.  Returns manifests
    finalized by this call."""
    import json

    info = json.loads(_read_small_file(spark, marker_abs))
    done = 0
    for entry in info["tables"]:
        t_path, version = entry["path"], entry["version"]
        prep = _prep_path(t_path, version)
        final = _final_path(t_path, version)
        # per-table fs handle: members may live on different stores
        _, fs, final_p = _fs(spark, final)
        if fs.exists(final_p):
            # this member already committed; stale prep (rename raced a
            # crash) is debris
            _reclaim(spark, [prep])
            continue
        if not fs.exists(_hpath(spark, prep)):
            raise IOError(
                f"multi-table commit marker names v{version} of {t_path} "
                "but neither the prepared nor the final manifest exists "
                "— corrupt commit state, refusing to guess"
            )
        move(spark, [(prep, final)])
        done += 1
    _reclaim(spark, [marker_abs])
    return done


def _canonical(paths: list[str]) -> tuple[list[str], list[str]]:
    """``(lock keys, paths)``, deduplicated on the key and sorted by it:
    the global lock-acquisition order (no deadlocks between overlapping
    sets)."""
    by_key: dict[str, str] = {}
    for p in paths:
        by_key.setdefault(_txn_key(p), p)
    keys = sorted(by_key)
    return keys, [by_key[k] for k in keys]


class MultiTableTransaction:
    """One atomic commit spanning SEVERAL versioned tables (the
    fact+dimension upsert Delta itself cannot batch)::

        with begin_multi(spark, [facts, dims]) as txn:
            merge_into(spark, facts, src, on=["k"], ...)
            update_where(spark, dims, {"flag": "true"}, "k = 7")
        # clean exit -> ONE new version on every changed table, decided
        #               atomically; exception -> every table rolls back

    Every member table's writer lock is held for the span (acquired in
    canonical path order — two processes opening overlapping sets cannot
    deadlock, the later one refuses) and every verb defers its version
    commit.  With several dirty tables COMMIT is TWO-PHASE:

    1. PREPARE: each dirty table's next manifest is composed and written
       to a ``v<N>.json.prep`` sibling — invisible to version readers.
    2. DECIDE: a commit MARKER (exclusive create, the r10 manifest
       tripwire) listing every (table, version) lands on the
       canonically-first table.  The marker IS the atomic commit point.
    3. FINISH: each prep renames to its final ``v<N>.json``; the marker
       is deleted.  A crash after DECIDE rolls FORWARD
       (:func:`recover_tables` finishes the renames); a crash before it
       rolls BACK — recovery always converges to all-or-nothing.

    With one dirty table the manifest is written directly: its exclusive
    create is already atomic.

    Version readers (``read_version`` / CDC / time travel) see each
    table gain exactly one version.  The atomicity guarantee is
    durability-level: recovery can never leave table A committed and
    table B rolled back.  A concurrent reader racing the FINISH renames
    can briefly observe some members already at the new version
    (per-table filesystem renames; a shared catalog would close that
    window).  Bare-path readers see intermediate states, as they do
    during any in-progress verb.

    Optimistic (``optimistic=True``) verbs and maintenance verbs
    (vacuum / restore / drop_versions) are refused inside a transaction.  It should stay
    short-lived: it is a batching construct, not a long-lived session.
    """

    def __init__(self, spark: SparkSession, paths: list[str]):
        self.spark = spark
        if not paths:
            raise ValueError("begin_multi needs at least one table path")
        self._keys, self.paths = _canonical(paths)
        for p in self.paths:
            if not table_versions(spark, p):
                raise ValueError(
                    f"transactions require versioning on {p}; call "
                    "enable_versioning first (the committed manifest is "
                    "the rollback anchor)"
                )
        clash = [k for k in self._keys if k in _ACTIVE_TXNS]
        if clash:
            raise RuntimeError(
                f"a transaction is already open on {clash[0]} in this "
                "process"
            )
        self._states: dict[str, _TxnState] | None = {}
        self._rollback_only = False
        acquired: list[str] = []
        try:
            for k, p in zip(self._keys, self.paths):
                _acquire_writer_lock(spark, p)
                acquired.append(p)
                st = _TxnState(path=p, owner=threading.get_ident())
                self._states[k] = st
                _ACTIVE_TXNS[k] = st
        except BaseException:
            for k in list(self._states):
                _ACTIVE_TXNS.pop(k, None)
            for p in acquired:
                with contextlib.suppress(Exception):
                    _release_writer_lock(spark, p)
            self._states = None
            raise

    @property
    def active(self) -> bool:
        return self._states is not None

    @property
    def verbs_executed(self) -> int:
        if not self._states:
            return 0
        return sum(st.verbs for st in self._states.values())

    def _close_all(self) -> dict[str, _TxnState]:
        """Pop the registry entries BEFORE the commit/rollback work: the
        post-commit sequence must see no open transaction."""
        sts = self._states
        if sts is None:
            raise RuntimeError(
                "transaction already committed or rolled back"
            )
        for k in sts:
            _ACTIVE_TXNS.pop(k, None)
        self._states = None
        return sts

    def _reopen_all(self, sts: dict[str, _TxnState]) -> None:
        """Commit/rollback work failed BEFORE reaching a resolved state:
        restore the handle (registry entries + states) and keep the
        writer locks, so the batch is still protected and the caller — or
        the context manager's exception path — can rollback() or retry.
        Discarding the handle here would leave the half-applied batch
        unlocked, and the next writer's commit would silently fold it
        into its own version."""
        for k, st in sts.items():
            _ACTIVE_TXNS[k] = st
        self._states = sts

    def _release_all(self) -> None:
        for p in self.paths:
            with contextlib.suppress(Exception):
                _release_writer_lock(self.spark, p)

    def _commit_two_phase(self, dirty: list[str], sts) -> dict[str, int]:
        """PREPARE + DECIDE + FINISH over ``dirty`` (two or more tables);
        returns ``{path: version}``.  A failure before the marker
        reclaims the preps and reopens the transaction; a failure after
        it is a decided commit."""
        import json
        from datetime import datetime, timezone

        prepared: list[tuple[str, int]] = []
        try:
            # phase 1 — PREPARE every dirty table (exclusive creates: a
            # prep name collision means commit state debris; fail loudly)
            for p in dirty:
                nxt, data = _compose_next_manifest(self.spark, p)
                _write_small_file(
                    self.spark, _prep_path(p, nxt), data, overwrite=False
                )
                prepared.append((p, nxt))
            # phase 2 — DECIDE: the marker's exclusive create is the
            # atomic commit point for the whole set
            marker = _marker_path(self.paths[0])
            _write_small_file(
                self.spark,
                marker,
                json.dumps(
                    {
                        "tables": [
                            {"path": p, "version": v} for p, v in prepared
                        ],
                        "created_at": datetime.now(
                            timezone.utc
                        ).isoformat(),
                    },
                    indent=0,
                ).encode(),
                overwrite=False,
            )
        except BaseException:
            for p, v in prepared:  # one call per table: per-table store
                _reclaim(self.spark, [_prep_path(p, v)])
            self._reopen_all(sts)
            raise
        # phase 3 — FINISH: renames + marker delete; from here the
        # commit is decided and failures roll FORWARD, never back
        _finish_multi_commit(self.spark, marker)
        return dict(prepared)

    def commit(self) -> dict[str, int]:
        """Commit the batch; returns ``{table path: new version}`` for
        every table a verb changed (empty dict = no-op batch, nothing
        committed).  A failure before the commit point reopens the
        transaction (lock held, handle valid — rollback() or retry); a
        failure AFTER a multi-table marker is a decided commit — finish
        it with ``recover_tables(spark, paths, force=True)`` (in-process
        safe: the handles are closed by then)."""
        # closed-handle first: commit() after a SUCCESSFUL rollback must
        # say "already resolved", not "retry rollback()"
        if self._states is not None and self._rollback_only:
            raise RuntimeError(
                "a failed rollback() leaves the transaction "
                "rollback-only (part of the batch may already be undone "
                "— committing the rest would publish a half-rolled "
                "batch) — retry rollback(), do not commit"
            )
        sts = self._close_all()
        dirty = [p for k, p in zip(self._keys, self.paths) if sts[k].dirty]
        if len(dirty) > 1:
            out = self._commit_two_phase(dirty, sts)
        else:
            # one table (or none): the manifest's exclusive create is
            # the atomic commit point, no marker needed
            try:
                for p in dirty:
                    _autoversion(self.spark, p)
            except BaseException:
                self._reopen_all(sts)
                raise
            out = {p: table_versions(self.spark, p)[-1] for p in dirty}
        # the versions are committed from here on: maintenance hooks
        # degrade-with-warning by design, and the locks must release
        try:
            for p in out:
                committed(self.spark, p, version=False)
        finally:
            self._release_all()
        return out

    def rollback(self) -> int:
        """Undo every verb on every member table; returns files that
        changed liveness across the set.  Rerunnable on failure (the
        transaction stays open, lock held) — and from the first attempt
        on, the transaction is ROLLBACK-ONLY: committing after a partial
        undo would publish a half-rolled, half-committed batch."""
        sts = self._close_all()
        self._rollback_only = True
        changed = 0
        try:
            for k, p in zip(self._keys, self.paths):
                if sts[k].dirty:
                    changed += _rollback_to_committed(self.spark, p)
                    sts[k].dirty = False
        except BaseException:
            self._reopen_all(sts)
            raise
        self._release_all()
        return changed

    # -- context manager: commit on clean exit, rollback on exception -----
    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self._states is None:
            return  # already resolved explicitly
        if exc_type is None:
            self.commit()
        else:
            self.rollback()


def begin_multi(
    spark: SparkSession, paths: list[str]
) -> MultiTableTransaction:
    """Open one transaction spanning several versioned tables."""
    return MultiTableTransaction(spark, paths)


class Transaction(MultiTableTransaction):
    """A batch of DML verbs on one table committing as ONE version (use
    via :func:`begin`, usually as a context manager)::

        with begin(spark, path) as txn:
            update_where(spark, path, {"v": "v + 1"}, "k < 10")
            delete_where(spark, path, "k = 99")
            merge_into(spark, path, src, on=["k"], ...)
        # clean exit -> txn.commit(): one manifest, CDC = the net diff
        # exception  -> txn.rollback(): table byte-identical to before

    A :class:`MultiTableTransaction` over one path: it requires
    versioning (:func:`~.mutate.enable_versioning` — the last committed
    manifest is both the commit baseline and the rollback anchor) and
    holds the table's writer lock for its whole span.
    """

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, [path])
        self.path = path

    def commit(self) -> int | None:
        """Write ONE version manifest for the whole batch (plus one bloom
        refresh and one stats-staleness bump) and release the lock.
        Returns the committed version number, or None if no verb changed
        anything (a no-op batch commits no version — idempotent).  If the
        manifest write itself fails, the transaction STAYS OPEN (lock
        held, handle valid) — rollback() or retry."""
        return next(iter(super().commit().values()), None)


def begin(spark: SparkSession, path: str) -> Transaction:
    """Open a multi-statement transaction on a versioned table."""
    return Transaction(spark, path)


def recover_tables(
    spark: SparkSession,
    paths: list[str],
    force: bool = False,
    assume_undecided: bool = False,
) -> int:
    """Crash recovery for multi-table transactions: every passed table
    is scanned for a commit MARKER — each marker found means that
    transaction was DECIDED and rolls FORWARD (the prepared renames
    finish; the marker's own table list is authoritative and may name
    tables the caller forgot to pass).  Tables covered by no marker
    roll BACK to their last committed manifest.

    A table holding a PREPARED manifest but no marker in the passed set
    is ambiguous: either the crash happened before the decision (roll
    back is right), or the transaction's coordinator — the table the
    marker lives on — was not passed (rolling back would destroy a
    decided commit).  The call REFUSES in that case; pass the
    transaction's full table set, or ``assume_undecided=True`` after
    confirming the passed set is complete.

    Stale writer locks are removed.  Refuses without ``force=True``
    while a lock file exists (:class:`RecoveryNeedsForce`, same
    contract as :func:`recover_table`).  Returns files/manifests that
    changed."""
    import json

    keys, plist = _canonical(paths)
    open_here = [k for k in keys if k in _ACTIVE_TXNS]
    if open_here:
        raise RuntimeError(
            f"a transaction on {open_here[0]} is still open in THIS "
            "process — commit() or rollback() it instead"
        )

    locks_held = []
    for p in plist:
        _, fs, jpath = _fs(spark, p)  # per-table store
        if fs.exists(_hpath(spark, jpath, LOCK_FILE)):
            locks_held.append(p)
    if locks_held and not force:
        raise RecoveryNeedsForce(
            f"writer lock on {locks_held[0]} exists: pass force=True "
            "only after confirming the writer that held it is dead"
        )
    changed = 0
    # scan EVERY passed table for a marker — independent crashed
    # transactions may each have left one — and finish each decided
    # commit; tables a finished marker covers must not then roll back
    handled: set[str] = set()
    for p in plist:
        _, fs, _ = _fs(spark, p)
        marker = _marker_path(p)
        if fs.exists(_hpath(spark, marker)):
            info = json.loads(_read_small_file(spark, marker))
            changed += _finish_multi_commit(spark, marker)
            for entry in info["tables"]:
                committed(spark, entry["path"], version=False)
                handled.add(_txn_key(entry["path"]))
                # marker-listed members the caller forgot to pass still
                # hold the dead writer's lock; force covers them too
                if force and _txn_key(entry["path"]) not in keys:
                    locks_held.append(entry["path"])
    for k, p in zip(keys, plist):
        if k in handled:
            continue
        debris = _list_prep_debris(spark, p)
        if debris and not assume_undecided:
            raise UndecidedCommitDebris(
                f"{p} holds a prepared multi-table manifest but no "
                "commit marker was found in the passed set — if the "
                "transaction's coordinator table is missing from this "
                "call, rolling back here would destroy a DECIDED "
                "commit.  Pass the transaction's FULL table set; if "
                "this IS the full set (the crash provably happened "
                "before the decision marker), re-run with "
                "assume_undecided=True"
            )
        if table_versions(spark, p):
            changed += _rollback_to_committed(spark, p)
        for prep in debris:
            with contextlib.suppress(Exception):
                _delete_files(spark, [prep])
                changed += 1
    for p in locks_held:
        with contextlib.suppress(Exception):
            _release_writer_lock(spark, p)
    return changed


def recover_table(
    spark: SparkSession, path: str, force: bool = False
) -> int:
    """Crash recovery: roll an abandoned transaction back to the last
    committed manifest and remove the stale writer lock.  Refuses unless
    ``force=True`` — only the operator can know the lock holder is truly
    dead (a live holder's work would be yanked out from under it).
    Returns how many files changed liveness."""
    if _txn_key(path) in _ACTIVE_TXNS:
        raise RuntimeError(
            f"a transaction on {path} is still open in THIS process — "
            "commit() or rollback() it instead"
        )
    _, fs, table_path = _fs(spark, path)
    lock = _hpath(spark, table_path, LOCK_FILE)
    lock_held = fs.exists(lock)
    if lock_held and not force:
        raise RecoveryNeedsForce(
            f"writer lock {lock} exists: pass force=True only after "
            "confirming the writer that held it is dead"
        )
    if not table_versions(spark, path):
        raise ValueError(
            f"versioning not enabled on {path}; recover_table can only "
            "roll back to a committed manifest"
        )
    # multi-table commit debris: a marker means a DECIDED commit that
    # must roll FORWARD across the whole set; a prepared manifest means
    # this table was mid-multi-commit and the decision lives on another
    # table.  A single-table rollback would break cross-table atomicity
    # — route to recover_tables with the full set.
    if fs.exists(_hpath(spark, _marker_path(path))):
        raise RuntimeError(
            f"{path} holds a multi-table commit marker — that commit "
            "was decided and must roll FORWARD: run recover_tables "
            "with the transaction's table set"
        )
    if _list_prep_debris(spark, path):
        raise RuntimeError(
            f"{path} holds a prepared multi-table manifest — it was "
            "part of a multi-table transaction; run recover_tables "
            "with the full table set (the commit decision lives on the "
            "coordinator table)"
        )
    changed = _rollback_to_committed(spark, path)
    if lock_held:
        with contextlib.suppress(Exception):
            _release_writer_lock(spark, path)
    return changed
