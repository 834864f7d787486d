"""Every mutation of a table directory: one move, one lock, one small-file
writer.

The reference never touches storage — its executor hands regenerated SQL
to MySQL (``engine/src/plan_executor.cpp:17-21``).  This engine owns its
table directories, so how one changes is a single decision, made here:
this is the only module that calls a Hadoop ``FileSystem`` ``rename``,
``delete``, ``mkdirs`` or ``create`` (HDFS / S3A / local alike).  Other
modules read through :mod:`.reader` and mutate through :func:`move`
(all-or-nothing renames), :func:`_delete_files` / :func:`_reclaim`
(strict and best-effort deletes), :func:`_writer_lock` (the advisory
single-writer ``_cow.lock``, re-entrant inside an open transaction) and
:func:`_write_small_file` (manifests, markers, anchors, the lock file).
Every handle they mutate through comes from this module's ``_fs``, so a
fault test substitutes a failing filesystem by patching that one name.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from ..catalog import _norm_path
from .reader import _fs, _hpath, _jclass

#: Underscore prefix ⇒ invisible to Spark's file discovery (like _SUCCESS),
#: so retired files and manifests never leak into a normal table read.
RETIRED_DIR = "_retired"
SNAPSHOT_DIR = "_snapshots"
LOCK_FILE = "_cow.lock"

#: Driver-side concurrency of one move or delete: renames and deletes of
#: distinct paths are independent, and serial ones cost a round trip each
#: — minutes at 10⁴ partitions on S3/HDFS.  The pool lives with the process
#: (a new thread opens its own py4j connection: a fresh pool per call cost
#: more than a flat publish's renames on local disk); tasks never submit.
FS_THREADS = 16
_POOL = ThreadPoolExecutor(FS_THREADS, thread_name_prefix="storage")


def _each(call, items) -> None:
    """``call(item)`` for every item, up to :data:`FS_THREADS` at a time;
    a failure cancels the calls not yet started and raises."""
    items = list(items)
    if len(items) < 2:
        for it in items:
            call(it)
        return
    futs = [_POOL.submit(call, it) for it in items]
    wait(futs, return_when=FIRST_EXCEPTION)
    for f in futs:
        f.cancel()
    wait(futs)
    for f in futs:
        if not f.cancelled() and f.exception() is not None:
            raise f.exception()


def move(spark: SparkSession, pairs, existing=()) -> None:
    """Rename every ``(src, dest)`` URI pair, pooled.  Each distinct
    destination directory is created once first, unless a source is in
    it or it is in ``existing`` (the caller's listing shows it is there).
    All-or-nothing unless an undo itself fails: when a rename fails (or
    raises), every pair already moved is renamed back before the error
    propagates, and pairs whose undo failed are named in a note on it.
    One FileSystem (the first destination's) serves the call."""
    pairs = list(pairs)
    if not pairs:
        return
    _, fs, _ = _fs(spark, pairs[0][1])
    new_dirs = {d.rsplit("/", 1)[0] for _, d in pairs} - set(existing)
    new_dirs -= {s.rsplit("/", 1)[0] for s, _ in pairs}
    _each(lambda d: fs.mkdirs(_hpath(spark, d)), sorted(new_dirs))
    done, stuck, guard = [], [], threading.Lock()

    def one(pair) -> None:
        if not fs.rename(_hpath(spark, pair[0]), _hpath(spark, pair[1])):
            raise IOError(f"rename {pair[0]} -> {pair[1]} failed")
        with guard:
            done.append(pair)

    def undo(pair) -> None:
        with contextlib.suppress(Exception):
            if fs.rename(_hpath(spark, pair[1]), _hpath(spark, pair[0])):
                return
        with guard:
            stuck.append(pair)

    try:
        _each(one, pairs)
    except BaseException as e:
        _each(undo, done)
        if stuck:
            e.add_note(f"undo failed, still moved: {sorted(stuck)}")
        raise


def _delete(spark: SparkSession, paths, recursive: bool, strict: bool):
    paths = [p for p in paths if p]
    if not paths:
        return
    _, fs, _ = _fs(spark, paths[0])

    def one(p: str) -> None:
        try:
            fs.delete(_hpath(spark, p), recursive)
        except Exception:
            if strict:
                raise

    _each(one, paths)


def _delete_files(spark: SparkSession, paths, recursive=False) -> None:
    """Delete each path (with its contents when ``recursive``), pooled; a
    failure raises, an absent path is none."""
    _delete(spark, paths, recursive, strict=True)


def _reclaim(spark: SparkSession, paths) -> None:
    """Best-effort recursive delete of debris — staging dirs nothing was
    moved out of, stale prepared manifests, leftover markers."""
    _delete(spark, paths, True, strict=False)


def _read_small_file(spark: SparkSession, path: str) -> bytes:
    _, fs, jpath = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        ioutils = _jclass(spark, "org.apache.commons.io.IOUtils")
        return bytes(ioutils.toByteArray(stream))
    finally:
        stream.close()


def _write_small_file(
    spark: SparkSession, path: str, data: bytes, overwrite: bool = True
) -> None:
    """Write ``data`` as the whole of ``path`` (parent dirs are created).
    ``overwrite=False`` is an exclusive create: an existing file fails it
    with the filesystem's already-exists error and is left untouched."""
    _, fs, jpath = _fs(spark, path)
    stream = fs.create(jpath, overwrite)
    try:
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
    except BaseException:
        # a partial manifest would wedge the version log (every later
        # back-walk json-decodes it; an exclusive create would misread it
        # as a concurrent commit); the create succeeded, so it is ours
        _reclaim(spark, [path])
        raise


def _rel_to_table(path: str, file_uri: str) -> str:
    """Manifest entries are table-relative so the table stays movable.
    Compares the URIs' path components (scheme/authority stripped), so
    ``/data/sales/sales`` and ``file:///x`` / ``file:/x`` / ``/x`` agree."""
    table_p = urlparse(path).path.rstrip("/")
    file_p = urlparse(file_uri).path
    if not file_p.startswith(table_p + "/"):
        raise ValueError(f"{file_uri} is not under table {path}")
    return file_p[len(table_p) + 1:]


# -- the writer lock and open transactions -------------------------------------


class _WriterLockHeld(RuntimeError):
    """Another writer holds the lock; the optimistic verbs retry on it."""


def _is_already_exists(e: Exception) -> bool:
    """Did a py4j-wrapped create(overwrite=False) fail because the file
    exists?  Matches the Java exception class; the message only when a
    wrapper dropped it."""
    cls = ""
    je = getattr(e, "java_exception", None)
    if je is not None:
        with contextlib.suppress(Exception):
            cls = je.getClass().getName()
    return cls.endswith("FileAlreadyExistsException") or (
        not cls and "already exists" in str(e).lower()
    )


#: Per-path in-process mutexes around the lock's create-if-absent: the
#: LOCAL FileSystem's create(overwrite=false) is exists()-then-create, so
#: two threads could both "acquire" it (seen as two OCC writers sharing a
#: commit window).  Held for the one lock write only; cross-process
#: atomicity is the filesystem's contract (HDFS: atomic).
_LOCK_ATTEMPT_MUTEXES: dict[str, threading.Lock] = {}
_LOCK_ATTEMPT_GUARD = threading.Lock()


def _lock_attempt_mutex(path: str) -> threading.Lock:
    key = _txn_key(path)
    with _LOCK_ATTEMPT_GUARD:
        return _LOCK_ATTEMPT_MUTEXES.setdefault(key, threading.Lock())


def _acquire_writer_lock(
    spark: SparkSession, path: str, wait_seconds: float = 0.0
) -> None:
    """Atomically create ``_cow.lock`` (see :func:`_writer_lock`); a
    failed write after the create removes it again."""
    lock = f"{path.rstrip('/')}/{LOCK_FILE}"
    mutex = _lock_attempt_mutex(path)
    deadline = time.monotonic() + wait_seconds
    while True:
        try:
            with mutex:  # same-process threads: check+create is atomic
                _write_small_file(
                    spark, lock, uuid.uuid4().hex.encode(), overwrite=False
                )
            return
        except Exception as e:  # py4j wraps the Java exception
            if not _is_already_exists(e):
                raise
            if time.monotonic() < deadline:
                time.sleep(0.1)
                continue
            raise _WriterLockHeld(
                f"another writer holds {lock}: concurrent COW DML is "
                "refused (single-writer). If the previous writer crashed, "
                "remove the lock file after confirming nothing is running."
            ) from None


def _release_writer_lock(spark: SparkSession, path: str) -> None:
    _delete_files(spark, [f"{path.rstrip('/')}/{LOCK_FILE}"])


#: Open transactions (operators/txn.py) by normalized table path: the
#: owning thread re-enters _writer_lock, and commit.committed defers the
#: version manifest and index refresh to the transaction's commit.
_ACTIVE_TXNS: dict[str, "_TxnState"] = {}


@dataclass
class _TxnState:
    path: str
    owner: int  # threading.get_ident() of the beginning thread
    dirty: bool = False  # did any verb change anything?
    verbs: int = 0


def _txn_key(path: str) -> str:
    return _norm_path(path)


def _txn_state(path: str) -> "_TxnState | None":
    return _ACTIVE_TXNS.get(_txn_key(path))


def _refuse_in_txn(path: str, what: str) -> None:
    """Refuse a maintenance verb while a transaction is open on the table
    (vacuum would delete its uncommitted files, restore/drop would move
    the anchor its rollback targets)."""
    if _txn_state(path) is not None:
        raise RuntimeError(
            f"{what} refused: a multi-statement transaction is open on "
            f"{path} — commit() or rollback() it first"
        )


@contextlib.contextmanager
def _writer_lock(
    spark: SparkSession, path: str, wait_seconds: float = 0.0
):
    """Advisory single-writer lock: atomically create ``_cow.lock`` (fails
    if present), release on exit.

    ``wait_seconds=0`` refuses a concurrent writer at once; the
    optimistic verbs poll for a short bound (they hold the lock for the
    metadata swap only).  Create-if-absent is atomic on HDFS and local
    filesystems, not on S3.  A crashed writer leaves a stale lock; the
    error names the file to remove once no writer is alive.  Re-entrant
    for the thread that opened a transaction on the table (it holds the
    physical lock for its whole span).
    """
    st = _txn_state(path)
    if st is not None and st.owner == threading.get_ident():
        st.verbs += 1
        yield
        return
    _acquire_writer_lock(spark, path, wait_seconds)
    try:
        yield
    finally:
        _release_writer_lock(spark, path)
