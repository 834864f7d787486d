"""The table-directory mutation seam (operators/storage.py): no other
module mutates through a Hadoop FileSystem handle, and a failed rename
in a publish renames back what already moved, so the table reads as it
did before the statement."""

from __future__ import annotations

import ast
import threading
from collections import Counter
from pathlib import Path

import pytest

from sql_query_optimizer_cpp_spark.operators import storage
from sql_query_optimizer_cpp_spark.operators.mor import (
    dv_delete_where,
    has_deletion_vectors,
    read_mor,
)
from sql_query_optimizer_cpp_spark.operators.mutate import (
    delete_where,
    repair_table,
)

PACKAGE = Path(storage.__file__).resolve().parents[1]
MUTATIONS = {"rename", "delete", "mkdirs", "create"}


def _is_fs_handle(node: ast.expr) -> bool:
    # every FileSystem handle in the package is named fs or *_fs
    return isinstance(node, ast.Name) and (
        node.id == "fs" or node.id.endswith("_fs")
    )


def _fs_mutations(source: str) -> list[tuple[int, str]]:
    return [
        (n.lineno, f"{n.func.value.id}.{n.func.attr}")
        for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in MUTATIONS
        and _is_fs_handle(n.func.value)
    ]


def test_guard_sees_handles_and_spares_frames():
    src = (
        "fs.rename(a, b)\nm_fs.delete(p, False)\nfs.mkdirs(p)\n"
        "fs.create(p, True)\nhot.rename('n')\nfs.exists(p)\n"
    )
    assert [c for _, c in _fs_mutations(src)] == [
        "fs.rename", "m_fs.delete", "fs.mkdirs", "fs.create",
    ]


def test_only_storage_mutates_table_directories():
    """Outside operators/storage.py no module calls a FileSystem
    rename/delete/mkdirs/create: every directory mutation goes through
    the one seam a fault test can patch."""
    seam = PACKAGE / "operators" / "storage.py"
    offenders = [
        f"{p.relative_to(PACKAGE)}:{line} {call}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != seam
        for line, call in _fs_mutations(p.read_text())
    ]
    assert offenders == []
    assert _fs_mutations(seam.read_text())  # the seam itself is seen


class _FailingRename:
    """A FileSystem whose ``k``-th rename reports failure (with
    ``after``, so does every later one); every other call goes to the
    real one.  Renames run from a pool, so the count is locked, and
    each rename that succeeded is logged as ``(src, dst)``."""

    def __init__(self, fs, calls: dict):
        self._fs, self._calls = fs, calls

    def rename(self, src, dst):
        with self._calls["lock"]:
            self._calls["n"] += 1
            n = self._calls["n"]
        k = self._calls["k"]
        if n == k or (self._calls["after"] and n > k):
            return False
        ok = self._fs.rename(src, dst)
        with self._calls["lock"]:
            self._calls["log"].append((src.toString(), dst.toString()))
        return ok

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _fail_rename(monkeypatch, k: int, after: bool = False) -> dict:
    calls = {"n": 0, "k": k, "after": after, "log": [],
             "lock": threading.Lock()}
    real = storage._fs

    def faulty(spark, path):
        jvm, fs, jpath = real(spark, path)
        return jvm, _FailingRename(fs, calls), jpath

    monkeypatch.setattr(storage, "_fs", faulty)
    return calls


def _all_undone(log: list) -> bool:
    """Every logged rename has its exact reverse logged too."""
    return bool(log) and Counter(log) == Counter((d, s) for s, d in log)


def _table(spark, tmp_path, files=4):
    path = str(tmp_path / "t")
    spark.range(40).selectExpr("id AS k", "id * 10 AS v").repartition(
        files
    ).write.parquet(path)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("k", [2, 3])
def test_failed_cow_move_in_retracts(spark, tmp_path, monkeypatch, k):
    """The k-th rename of a multi-part copy-on-write move-in fails: the
    verb raises, the parts already moved are renamed back (so the
    rewritten files' surviving rows do not appear twice), the lock is
    released, and a rerun after repair commits."""
    path = _table(spark, tmp_path)
    before = _rows(spark.read.parquet(path))
    calls = _fail_rename(monkeypatch, k)
    with pytest.raises(IOError, match="rename"):
        delete_where(spark, path, "k % 3 = 0")
    monkeypatch.undo()
    # at least the k-1 renames before the failed one moved, and every
    # rename that moved was renamed back
    assert len(calls["log"]) >= 2 * (k - 1)
    assert _all_undone(calls["log"])
    assert _rows(spark.read.parquet(path)) == before
    report = repair_table(spark, path, remove=True)
    assert len(report.staging_dirs) == 1 and report.stale_lock is None
    st = delete_where(spark, path, "k % 3 = 0")
    assert st.rows_matched == 14
    assert _rows(spark.read.parquet(path)) == [
        r for r in before if r[0] % 3
    ]


def test_failed_dv_batch_move_retracts(spark, tmp_path, monkeypatch):
    """The same fault in a merge-on-read tombstone batch: no partial
    batch is ever visible to read_mor."""
    path = _table(spark, tmp_path)
    before = _rows(read_mor(spark, path))
    calls = _fail_rename(monkeypatch, 2)
    with pytest.raises(IOError, match="rename"):
        dv_delete_where(spark, path, "k % 3 = 0")
    monkeypatch.undo()
    assert _all_undone(calls["log"])
    assert not has_deletion_vectors(spark, path)
    assert _rows(read_mor(spark, path)) == before
    repair_table(spark, path, remove=True)
    assert dv_delete_where(spark, path, "k % 3 = 0").rows_matched == 14
    assert _rows(read_mor(spark, path)) == [r for r in before if r[0] % 3]


def test_failed_undo_is_named_in_the_error(spark, tmp_path, monkeypatch):
    """When renaming back fails too, the move is not all-or-nothing: the
    error names every pair that stayed moved."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    for i in range(4):
        (src / f"f{i}").write_text("x")
    pairs = [(str(src / f"f{i}"), str(dst / f"f{i}")) for i in range(4)]
    _fail_rename(monkeypatch, 2, after=True)
    with pytest.raises(IOError, match="rename") as err:
        storage.move(spark, pairs)
    stayed = [(s, d) for s, d in pairs if Path(d).exists()]
    note = " ".join(getattr(err.value, "__notes__", []))
    assert stayed and "undo failed" in note
    assert all(repr((s, d)) in note for s, d in stayed)
