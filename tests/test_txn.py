"""Multi-statement transactions (operators/txn.py): one manifest per
batch, composed CDC, rollback to byte-identical state, crash recovery,
and the guard matrix against OCC / maintenance verbs."""

from __future__ import annotations

import pytest

from sql_query_optimizer_cpp_spark.operators import mutate as m, storage, versioning
from sql_query_optimizer_cpp_spark.operators.mor import (
    dv_count,
    dv_delete_where,
    has_deletion_vectors,
    read_mor,
)
from sql_query_optimizer_cpp_spark.operators.txn import (
    begin,
    recover_table,
)


def _table(spark, tmp_path, name="txn_t", n=60):
    path = str(tmp_path / name)
    (
        spark.range(n)
        .selectExpr("id AS k", "CAST(id % 5 AS DOUBLE) AS v")
        .repartitionByRange(3, "k")
        .write.parquet(path)
    )
    versioning.enable_versioning(spark, path)  # v1
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v").collect())


def test_txn_batch_commits_one_version_with_composed_cdc(spark, tmp_path):
    path = _table(spark, tmp_path)
    before = _rows(spark.read.parquet(path))
    src = spark.createDataFrame(
        [(10, 10.5), (1000, -1.0)], "k long, v double"
    )
    with begin(spark, path) as txn:
        m.update_where(spark, path, {"v": "v + 100"}, "k < 3")
        m.delete_where(spark, path, "k = 59")
        m.merge_into(spark, path, src, on=["k"], matched_set={"v": "src_v"},
                     insert_values={"v": "src_v"})
        # mid-batch: bare reads see progress, version readers do not
        assert versioning.table_versions(spark, path) == [1]
        assert txn.verbs_executed == 3
    # ONE commit for the whole batch
    assert versioning.table_versions(spark, path) == [1, 2]
    after = spark.read.parquet(path)
    assert after.where("k = 0").first()["v"] == 100.0
    assert after.where("k = 59").count() == 0
    assert after.where("k = 10").first()["v"] == 10.5
    assert after.where("k = 1000").first()["v"] == -1.0
    # time travel still sees the pre-batch table
    assert _rows(versioning.read_version(spark, path, 1)) == before
    # CDC over the single version IS the composed diff
    ch = versioning.read_changes(spark, path, 1, 2)
    ins = {tuple(r) for r in
           ch.where("_change_type = 'insert'").select("k", "v").collect()}
    dele = {tuple(r) for r in
            ch.where("_change_type = 'delete'").select("k", "v").collect()}
    assert (1000, -1.0) in ins and (10, 10.5) in ins
    assert (0, 100.0) in ins and (1, 101.0) in ins and (2, 102.0) in ins
    assert (59, 4.0) in dele and (10, 0.0) in dele
    assert (0, 0.0) in dele and (1, 1.0) in dele and (2, 2.0) in dele
    assert len(ins) == 5 and len(dele) == 5


def test_txn_net_update_then_delete_is_one_delete(spark, tmp_path):
    """An UPDATE followed by a DELETE of the same row inside one txn
    nets to a single CDC delete of the ORIGINAL image — the composed
    diff, not the play-by-play."""
    path = _table(spark, tmp_path)
    with begin(spark, path):
        m.update_where(spark, path, {"v": "999.0"}, "k = 7")
        m.delete_where(spark, path, "k = 7")
    ch = versioning.read_changes(spark, path, 1, 2)
    rows = [(r["_change_type"], r["k"], r["v"]) for r in ch.collect()]
    assert ("delete", 7, 7 % 5 * 1.0) in rows
    assert not any(r[2] == 999.0 for r in rows)


def test_txn_rollback_byte_identical(spark, tmp_path):
    path = _table(spark, tmp_path)
    files0 = sorted(m.list_data_files(spark, path, recursive=True))
    before = _rows(spark.read.parquet(path))
    txn = begin(spark, path)
    m.update_where(spark, path, {"v": "0.0"}, "k >= 0")
    m.delete_where(spark, path, "k < 10")
    assert _rows(spark.read.parquet(path)) != before  # batch is live
    changed = txn.rollback()
    assert changed > 0
    assert sorted(m.list_data_files(spark, path, recursive=True)) == files0
    assert _rows(spark.read.parquet(path)) == before
    assert versioning.table_versions(spark, path) == [1]  # nothing committed
    # lock released: normal DML works again (and commits v2)
    m.delete_where(spark, path, "k = 0")
    assert versioning.table_versions(spark, path) == [1, 2]


def test_txn_context_manager_rolls_back_on_exception(spark, tmp_path):
    path = _table(spark, tmp_path)
    before = _rows(spark.read.parquet(path))
    with pytest.raises(RuntimeError, match="boom"):
        with begin(spark, path):
            m.update_where(spark, path, {"v": "1.0"}, "k = 1")
            raise RuntimeError("boom")
    assert _rows(spark.read.parquet(path)) == before
    assert versioning.table_versions(spark, path) == [1]


def test_txn_noop_batch_commits_nothing(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn = begin(spark, path)
    m.update_where(spark, path, {"v": "9.9"}, "k = -1")  # matches nothing
    assert txn.commit() is None
    assert versioning.table_versions(spark, path) == [1]
    with pytest.raises(RuntimeError, match="already committed"):
        txn.commit()


def test_txn_guards(spark, tmp_path):
    path = _table(spark, tmp_path)
    # unversioned table refused
    bare = str(tmp_path / "bare")
    spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .write.parquet(bare)
    with pytest.raises(ValueError, match="enable_versioning"):
        begin(spark, bare)
    with begin(spark, path) as txn:
        # nested begin refused
        with pytest.raises(RuntimeError, match="already open"):
            begin(spark, path)
        # optimistic verbs refused (their exclusivity assumption is void)
        with pytest.raises(RuntimeError, match="optimistic DML"):
            m.update_where(spark, path, {"v": "1.0"}, "k = 1", optimistic=True)
        src = spark.createDataFrame([(1, 2.0)], "k long, v double")
        with pytest.raises(RuntimeError, match="optimistic DML"):
            m.merge_into(spark, path, src, on=["k"],
                             matched_set={"v": "src_v"}, optimistic=True)
        # maintenance verbs refused
        with pytest.raises(RuntimeError, match="vacuum refused"):
            versioning.vacuum(spark, path)
        with pytest.raises(RuntimeError, match="restore_version refused"):
            versioning.restore_version(spark, path, 1)
        with pytest.raises(RuntimeError, match="drop_versions_before"):
            versioning.drop_versions_before(spark, path)
        # a DIFFERENT thread is still locked out (reentrancy is per-owner)
        import threading

        err: list[Exception] = []

        def other():
            try:
                m.delete_where(spark, path, "k = 1")
            except Exception as e:  # noqa: BLE001
                err.append(e)

        t = threading.Thread(target=other)
        t.start()
        t.join()
        assert err and isinstance(err[0], storage._WriterLockHeld)
        txn.rollback()


def test_txn_mor_verbs_and_rollback(spark, tmp_path):
    """DV verbs participate: one version for a COW+MOR batch; rollback
    reclaims the tombstone batches too."""
    path = _table(spark, tmp_path)
    with begin(spark, path):
        m.update_where(spark, path, {"v": "v + 1"}, "k = 0")
        dv_delete_where(spark, path, "k = 5")
    assert versioning.table_versions(spark, path) == [1, 2]
    assert has_deletion_vectors(spark, path)
    out = read_mor(spark, path)
    assert out.where("k = 5").count() == 0
    assert out.where("k = 0").first()["v"] == 1.0
    # the committed manifest pins the DV batch: CDC shows both changes
    ch = versioning.read_changes(spark, path, 1, 2)
    assert ch.where("_change_type = 'delete' AND k = 5").count() == 1
    # now a second txn rolled back: DVs return to the committed state
    txn = begin(spark, path)
    dv_delete_where(spark, path, "k = 6")
    assert dv_count(spark, path) == 2
    txn.rollback()
    assert dv_count(spark, path) == 1
    assert read_mor(spark, path).where("k = 6").count() == 1


def test_recover_table_after_crash(spark, tmp_path):
    path = _table(spark, tmp_path)
    before = _rows(spark.read.parquet(path))
    files0 = sorted(m.list_data_files(spark, path, recursive=True))
    txn = begin(spark, path)
    m.update_where(spark, path, {"v": "-1.0"}, "k < 20")
    # simulate the process dying: the registry entry evaporates with the
    # process; the lock file and the uncommitted live state remain
    from sql_query_optimizer_cpp_spark.operators.storage import _ACTIVE_TXNS

    _ACTIVE_TXNS.clear()
    txn._states = None  # the handle is gone with the process
    # in-process refuse without force (the lock exists)
    with pytest.raises(RuntimeError, match="force=True"):
        recover_table(spark, path)
    changed = recover_table(spark, path, force=True)
    assert changed > 0
    assert _rows(spark.read.parquet(path)) == before
    assert sorted(m.list_data_files(spark, path, recursive=True)) == files0
    assert versioning.table_versions(spark, path) == [1]
    # lock removed: normal DML works
    m.delete_where(spark, path, "k = 0")
    assert versioning.table_versions(spark, path) == [1, 2]


def test_recover_refuses_open_txn(spark, tmp_path):
    path = _table(spark, tmp_path)
    with begin(spark, path) as txn:
        with pytest.raises(RuntimeError, match="still open in THIS"):
            recover_table(spark, path, force=True)
        txn.rollback()


def test_txn_refuses_create_snapshot_and_commit_failure_keeps_handle(
    spark, tmp_path, monkeypatch
):
    """(review r10) create_snapshot inside a txn would pin UNCOMMITTED
    files that rollback then deletes — refused; and a commit whose
    manifest write fails leaves the transaction OPEN (lock held, handle
    valid) instead of abandoning a half-applied batch unlocked."""
    path = _table(spark, tmp_path)
    before = _rows(spark.read.parquet(path))
    with begin(spark, path) as txn:
        m.update_where(spark, path, {"v": "1.0"}, "k = 1")
        with pytest.raises(RuntimeError, match="create_snapshot refused"):
            versioning.create_snapshot(spark, path, "mid")
        # manifest write blows up -> commit fails but the txn stays open
        import sql_query_optimizer_cpp_spark.operators.txn as txn_mod

        def boom(*a, **k):
            raise IOError("manifest write failed")

        monkeypatch.setattr(txn_mod, "_autoversion", boom)
        with pytest.raises(IOError, match="manifest write failed"):
            txn.commit()
        assert txn.active  # handle restored, lock still held
        # another thread still locked out — the batch stays protected
        import threading

        err: list[Exception] = []

        def other():
            try:
                m.delete_where(spark, path, "k = 2")
            except Exception as e:  # noqa: BLE001
                err.append(e)

        t = threading.Thread(target=other)
        t.start(); t.join()
        assert err and isinstance(err[0], storage._WriterLockHeld)
        monkeypatch.undo()
        txn.rollback()  # still possible: full undo
    assert _rows(spark.read.parquet(path)) == before
    assert versioning.table_versions(spark, path) == [1]


# -- multi-table transactions (r11) ------------------------------------------


def test_multi_txn_one_version_per_table_atomic(spark, tmp_path):
    """A cross-table batch commits EXACTLY one new version on every
    changed table; CDC per table equals the composed diff."""
    from sql_query_optimizer_cpp_spark.operators.txn import begin_multi

    facts = _table(spark, tmp_path, "facts", n=60)
    dims = _table(spark, tmp_path, "dims", n=10)
    before_f = _rows(spark.read.parquet(facts))
    with begin_multi(spark, [facts, dims]) as txn:
        m.update_where(spark, facts, {"v": "v + 100"}, "k < 3")
        m.delete_where(spark, facts, "k = 59")
        m.update_where(spark, dims, {"v": "-1.0"}, "k = 7")
        # mid-batch: no version committed anywhere
        assert versioning.table_versions(spark, facts) == [1]
        assert versioning.table_versions(spark, dims) == [1]
        assert txn.verbs_executed == 3
    assert versioning.table_versions(spark, facts) == [1, 2]
    assert versioning.table_versions(spark, dims) == [1, 2]
    assert spark.read.parquet(facts).where("k = 0").first()["v"] == 100.0
    assert spark.read.parquet(dims).where("k = 7").first()["v"] == -1.0
    # time travel: both tables' v1 is the pre-batch state
    assert _rows(versioning.read_version(spark, facts, 1)) == before_f
    ch = versioning.read_changes(spark, facts, 1, 2)
    assert ch.where("_change_type = 'delete' AND k = 59").count() == 1
    # explicit commit returns the version map
    t2 = begin_multi(spark, [facts, dims])
    m.delete_where(spark, facts, "k = 58")
    got = t2.commit()
    assert got == {facts: 3}  # dims untouched: no version, no entry
    assert versioning.table_versions(spark, dims) == [1, 2]


def test_multi_txn_rollback_restores_every_table(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.txn import begin_multi

    a = _table(spark, tmp_path, "a")
    b = _table(spark, tmp_path, "b", n=20)
    rows_a, rows_b = (
        _rows(spark.read.parquet(a)),
        _rows(spark.read.parquet(b)),
    )
    with pytest.raises(RuntimeError, match="boom"):
        with begin_multi(spark, [a, b]):
            m.delete_where(spark, a, "k >= 0")
            m.update_where(spark, b, {"v": "0.0"}, "k >= 0")
            raise RuntimeError("boom")
    assert _rows(spark.read.parquet(a)) == rows_a
    assert _rows(spark.read.parquet(b)) == rows_b
    assert versioning.table_versions(spark, a) == [1]
    assert versioning.table_versions(spark, b) == [1]
    # locks released: a fresh transaction opens fine
    with begin_multi(spark, [a, b]) as t:
        assert t.active


def test_multi_txn_guards(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.txn import (
        begin_multi,
    )

    a = _table(spark, tmp_path, "ga")
    b = _table(spark, tmp_path, "gb")
    plain = str(tmp_path / "plain")
    spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .write.parquet(plain)
    with pytest.raises(ValueError, match="versioning"):
        begin_multi(spark, [a, plain])
    with pytest.raises(ValueError, match="at least one"):
        begin_multi(spark, [])
    with begin_multi(spark, [a, b, a]) as t:  # dupes collapse
        assert len(t.paths) == 2
        # single-table begin on a member refuses
        with pytest.raises(RuntimeError, match="already open"):
            begin(spark, a)
        # another multi overlapping a member refuses
        with pytest.raises(RuntimeError, match="already open"):
            begin_multi(spark, [b])
        # OCC verbs refuse inside, same as single-table
        with pytest.raises(RuntimeError, match="transaction"):
            m.delete_where(spark, a, "k = 1", optimistic=True)
        # no-op commit: nothing committed anywhere
    assert versioning.table_versions(spark, a) == [1]
    assert versioning.table_versions(spark, b) == [1]


def test_multi_txn_crash_before_marker_rolls_back(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.storage import _ACTIVE_TXNS
    from sql_query_optimizer_cpp_spark.operators.txn import (
        begin_multi,
        recover_tables,
    )

    a = _table(spark, tmp_path, "ca")
    b = _table(spark, tmp_path, "cb")
    rows_a, rows_b = (
        _rows(spark.read.parquet(a)),
        _rows(spark.read.parquet(b)),
    )
    txn = begin_multi(spark, [a, b])
    m.delete_where(spark, a, "k < 10")
    m.update_where(spark, b, {"v": "9.9"}, "k < 5")
    # crash: the process dies holding both locks, nothing decided
    _ACTIVE_TXNS.clear()
    txn._states = None
    with pytest.raises(RuntimeError, match="force=True"):
        recover_tables(spark, [a, b])
    recover_tables(spark, [a, b], force=True)
    assert _rows(spark.read.parquet(a)) == rows_a
    assert _rows(spark.read.parquet(b)) == rows_b
    assert versioning.table_versions(spark, a) == [1]
    assert versioning.table_versions(spark, b) == [1]
    # locks cleared: fresh txn opens
    with begin_multi(spark, [a, b]):
        pass


def test_multi_txn_crash_after_marker_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """A failure AFTER the marker is a decided commit: recover_tables
    finishes the renames instead of rolling back."""
    from sql_query_optimizer_cpp_spark.operators import txn as txn_mod

    a = _table(spark, tmp_path, "fa")
    b = _table(spark, tmp_path, "fb")
    txn = txn_mod.begin_multi(spark, [a, b])
    m.delete_where(spark, a, "k < 10")
    m.update_where(spark, b, {"v": "9.9"}, "k < 5")

    def die(*_a, **_k):
        raise IOError("simulated crash between marker and renames")

    monkeypatch.setattr(txn_mod, "_finish_multi_commit", die)
    with pytest.raises(IOError, match="simulated crash"):
        txn.commit()
    monkeypatch.undo()
    # the decision marker exists; single-table recovery refuses BOTH
    # the coordinator (marker) and the member (prep debris)
    coord = sorted([a, b])[0]
    other = b if coord == a else a
    with pytest.raises(RuntimeError, match="roll FORWARD"):
        txn_mod.recover_table(spark, coord, force=True)
    with pytest.raises(RuntimeError, match="recover_tables"):
        txn_mod.recover_table(spark, other, force=True)
    txn_mod.recover_tables(spark, [a, b], force=True)
    # rolled FORWARD: both versions committed, batch state live
    assert versioning.table_versions(spark, a) == [1, 2]
    assert versioning.table_versions(spark, b) == [1, 2]
    assert spark.read.parquet(a).where("k < 10").count() == 0
    assert spark.read.parquet(b).where("v = 9.9").count() == 5
    # marker + preps gone; recovery is idempotent
    txn_mod.recover_tables(spark, [a, b], force=True)
    assert versioning.table_versions(spark, a) == [1, 2]


def test_recover_tables_partial_set_refuses_prep_debris(
    spark, tmp_path, monkeypatch
):
    """(review r11) A member holding a prepared manifest whose marker
    was NOT passed must refuse to roll back — a partial table set could
    otherwise destroy a DECIDED commit."""
    from sql_query_optimizer_cpp_spark.operators import txn as txn_mod

    a = _table(spark, tmp_path, "pa")
    b = _table(spark, tmp_path, "pb")
    txn = txn_mod.begin_multi(spark, [a, b])
    m.delete_where(spark, a, "k < 5")
    m.delete_where(spark, b, "k < 5")
    monkeypatch.setattr(
        txn_mod, "_finish_multi_commit",
        lambda *_a, **_k: (_ for _ in ()).throw(IOError("die")),
    )
    with pytest.raises(IOError):
        txn.commit()
    monkeypatch.undo()
    coord = sorted([a, b])[0]
    member = b if coord == a else a
    # recovering only the NON-coordinator member: prep debris, no
    # marker in the passed set -> refuse with the full-set hint
    with pytest.raises(RuntimeError, match="FULL table set"):
        txn_mod.recover_tables(spark, [member], force=True)
    # the decided commit is intact: full-set recovery rolls forward
    txn_mod.recover_tables(spark, [a, b], force=True)
    assert versioning.table_versions(spark, a) == [1, 2]
    assert versioning.table_versions(spark, b) == [1, 2]


def test_recover_tables_two_independent_crashes(spark, tmp_path, monkeypatch):
    """(review r11) recover_tables must finish EVERY decided marker in
    the passed set, not just the first."""
    from sql_query_optimizer_cpp_spark.operators import txn as txn_mod

    a = _table(spark, tmp_path, "ia")
    b = _table(spark, tmp_path, "ib")
    c = _table(spark, tmp_path, "ic")
    d = _table(spark, tmp_path, "id")

    def crash_commit(pair_paths):
        txn = txn_mod.begin_multi(spark, pair_paths)
        for p in pair_paths:
            m.delete_where(spark, p, "k < 5")
        monkeypatch.setattr(
            txn_mod, "_finish_multi_commit",
            lambda *_a, **_k: (_ for _ in ()).throw(IOError("die")),
        )
        with pytest.raises(IOError):
            txn.commit()
        monkeypatch.undo()

    crash_commit([a, b])
    crash_commit([c, d])
    txn_mod.recover_tables(spark, [a, b, c, d], force=True)
    for p in (a, b, c, d):
        assert versioning.table_versions(spark, p) == [1, 2], p
        assert spark.read.parquet(p).where("k < 5").count() == 0


def test_recover_tables_pre_decision_preps_need_assume_undecided(
    spark, tmp_path
):
    """(review r11) Prep debris with NO marker anywhere: rolling back is
    right only if the caller confirms the set is complete."""
    from sql_query_optimizer_cpp_spark.operators.storage import (
        _write_small_file,
    )
    from sql_query_optimizer_cpp_spark.operators import txn as txn_mod

    a = _table(spark, tmp_path, "ua")
    # simulate a crash between PREPARE and DECIDE: a prep exists,
    # no marker was ever written
    _write_small_file(
        spark, txn_mod._prep_path(a, 2), b'{"add":[],"remove":[]}'
    )
    with pytest.raises(RuntimeError, match="assume_undecided"):
        txn_mod.recover_tables(spark, [a])
    txn_mod.recover_tables(spark, [a], assume_undecided=True)
    assert not txn_mod._list_prep_debris(spark, a)
    assert versioning.table_versions(spark, a) == [1]


def test_rollback_only_latch(spark, tmp_path, monkeypatch):
    """(review r11) After a failed rollback the transaction is
    rollback-only: commit() must refuse (a half-rolled-back batch must
    never fold into a commit), retrying rollback() converges."""
    from sql_query_optimizer_cpp_spark.operators import txn as txn_mod

    a = _table(spark, tmp_path, "ra")
    b = _table(spark, tmp_path, "rb")
    txn = txn_mod.begin_multi(spark, [a, b])
    m.delete_where(spark, a, "k < 5")
    m.delete_where(spark, b, "k < 5")
    real = txn_mod._rollback_to_committed
    calls = {"n": 0}

    def flaky(spark_, path_):
        calls["n"] += 1
        if calls["n"] == 2:  # first table undoes, second fails
            raise IOError("disk hiccup")
        return real(spark_, path_)

    monkeypatch.setattr(txn_mod, "_rollback_to_committed", flaky)
    with pytest.raises(IOError, match="disk hiccup"):
        txn.rollback()
    assert txn.active  # reopened for retry
    with pytest.raises(RuntimeError, match="rollback-only"):
        txn.commit()
    monkeypatch.undo()
    txn.rollback()
    for p in (a, b):
        assert versioning.table_versions(spark, p) == [1]
        assert spark.read.parquet(p).count() == 60
    # single-table latch too
    t1 = txn_mod.begin(spark, a)
    m.delete_where(spark, a, "k < 5")
    monkeypatch.setattr(
        txn_mod, "_rollback_to_committed",
        lambda *_a: (_ for _ in ()).throw(IOError("die")),
    )
    with pytest.raises(IOError):
        t1.rollback()
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="rollback-only"):
        t1.commit()
    t1.rollback()
    assert spark.read.parquet(a).count() == 60


def test_commit_after_successful_rollback_says_resolved(spark, tmp_path):
    """(review r11 #2) commit() after a SUCCESSFUL rollback must say the
    transaction is already resolved, not advise retrying rollback."""
    from sql_query_optimizer_cpp_spark.operators import txn as txn_mod

    a = _table(spark, tmp_path, "sa")
    b = _table(spark, tmp_path, "sb")
    t1 = txn_mod.begin(spark, a)
    m.delete_where(spark, a, "k = 1")
    t1.rollback()
    with pytest.raises(RuntimeError, match="already committed or rolled"):
        t1.commit()
    t2 = txn_mod.begin_multi(spark, [a, b])
    m.delete_where(spark, b, "k = 1")
    t2.rollback()
    with pytest.raises(RuntimeError, match="already committed or rolled"):
        t2.commit()
