"""Version-log reads (operators/versioning.py, operators/mor.py): how much
work BUILDING a time-travel / change-feed frame may do before its action
runs, and the path-scoped cache refresh of the commits outside the DML
verbs (materialize_deletes, restore_version, compact, and transaction
commit, rollback and recovery)."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from sql_query_optimizer_cpp_spark.operators import mutate as m
from sql_query_optimizer_cpp_spark.operators.mor import (
    dv_delete_where,
    materialize_deletes,
    read_mor,
)


def _table(spark, tmp_path, name="t", n=100, files=4):
    path = str(tmp_path / name)
    (
        spark.range(n)
        .selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS v")
        .repartitionByRange(files, "k")
        .write.parquet(path)
    )
    return path


def _build_jobs(spark, build):
    """``(frame, jobs)``: the frame ``build()`` returns and the Spark jobs
    it fired before any action (counted under a one-off job group)."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "frame construction")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df, cols=("k", "v")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _net(lo_rows, hi_rows):
    """The multiset difference of two table states (EXCEPT ALL both
    ways), as sorted ``(change type, *row)`` tuples."""
    a, b = Counter(lo_rows), Counter(hi_rows)
    return sorted(
        [("insert", *r) for r in (b - a).elements()]
        + [("delete", *r) for r in (a - b).elements()]
    )


def _changes(df, cols=("k", "v")):
    return _rows(df, ("_change_type", *cols))


def test_read_changes_dv_range_builds_in_three_jobs(spark, tmp_path):
    """A range holding a DV-only commit and a partial materialize (new
    and pruned deletion-vector batches, rewritten and kept files): the
    frame builds with one schema job and one bounded collect."""
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)                                 # v1
    v1 = _rows(read_mor(spark, path))
    assert dv_delete_where(spark, path, "k < 5") == 5                # v2
    assert dv_delete_where(spark, path, "k IN (60, 61)") == 2        # v3
    # the k < 5 file is 20% dead and graduates; the k = 60 file (8%)
    # keeps its vectors in a pruned batch
    st = materialize_deletes(spark, path, min_dead_ratio=0.1)        # v4
    assert st.files_rewritten == 1
    v4 = _rows(read_mor(spark, path))
    df, jobs = _build_jobs(spark, lambda: m.read_changes(spark, path, 1, 4))
    assert jobs <= 3
    got = _changes(df)
    assert got == _net(v1, v4)
    assert {r[1] for r in got} == {0, 1, 2, 3, 4, 60, 61}


def test_read_changes_cow_range_builds_in_one_job(spark, tmp_path):
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)                                 # v1
    v1 = _rows(spark.read.parquet(path))
    m.delete_where(spark, path, "k BETWEEN 10 AND 12")               # v2
    m.update_where(spark, path, {"v": "v + 100"}, "k >= 90")         # v3
    v3 = _rows(spark.read.parquet(path))
    df, jobs = _build_jobs(spark, lambda: m.read_changes(spark, path, 1, 3))
    assert jobs <= 1
    assert _changes(df) == _net(v1, v3)
    assert df.count() == 3 + 2 * 10


def test_read_version_across_retired_batches_builds_in_one_job(
    spark, tmp_path
):
    """Version 1's files end up in the root and in two different
    ``_retired/<batch>/`` dirs; its frame still builds with one job."""
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)                                 # v1
    v1 = _rows(spark.read.parquet(path))
    m.update_where(spark, path, {"v": "-1.0"}, "k < 3")              # v2
    m.update_where(spark, path, {"v": "-2.0"}, "k BETWEEN 30 AND 31")  # v3
    retired = tmp_path / "t" / m.RETIRED_DIR
    assert len(list(retired.iterdir())) == 2
    df, jobs = _build_jobs(spark, lambda: m.read_version(spark, path, 1))
    assert jobs <= 1
    assert _rows(df) == v1


def test_partitioned_dv_reads_keep_partition_columns(spark, tmp_path):
    """The one-schema read path on a hive-partitioned merge-on-read
    table whose old files sit under ``_retired/``: every base adds its
    own partition column back, for time travel and change feeds."""
    path = str(tmp_path / "part")
    (
        spark.range(60)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v", "id % 3 AS p")
        .write.partitionBy("p")
        .parquet(path)
    )
    cols = ("k", "v", "p")
    m.enable_versioning(spark, path)                                 # v1
    v1 = _rows(spark.read.parquet(path), cols)
    m.update_where(spark, path, {"v": "v + 1"}, "p = 0 AND k < 9")   # v2
    dv_delete_where(spark, path, "k IN (1, 2, 4)")                   # v3
    v3 = _rows(read_mor(spark, path), cols)
    assert (tmp_path / "part" / m.RETIRED_DIR).exists()
    old = m.read_version(spark, path, 1)
    assert "p" in old.columns
    assert _rows(old, cols) == v1
    ch = m.read_changes(spark, path, 1, 3)
    assert set(ch.columns) == {"_change_type", *cols}
    assert _changes(ch, cols) == _net(v1, v3)
    deleted = {
        (r["k"], r["p"]) for r in ch.where("_change_type = 'delete'").collect()
    }
    assert {(1, 1), (2, 2), (4, 1)} <= deleted


def test_read_changes_across_a_widening_evolution(spark, tmp_path):
    """Endpoints that share no file may straddle an evolve_schema
    widening (int files before it, bigint after): no single footer merge
    accepts both, so each side reads with its own schema and the old
    images cast up — the rewritten-but-equal rows cancel."""
    path = str(tmp_path / "narrow")
    spark.range(20).selectExpr(
        "CAST(id AS int) AS k", "CAST(id AS int) AS v"
    ).repartition(2).write.parquet(path)
    m.enable_versioning(spark, path)                                 # v1
    src = spark.createDataFrame([(5, 5_000_000_000)], "k int, v long")
    m.merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"},
        evolve_schema=True,
    )                                                                # v2
    ch = m.read_changes(spark, path, 1, 2)
    assert dict(ch.dtypes)["v"] == "bigint"
    assert _changes(ch) == [("delete", 5, 5), ("insert", 5, 5_000_000_000)]


@pytest.fixture
def unrelated(spark, tmp_path):
    other = str(tmp_path / "other")
    spark.range(50).write.parquet(other)
    hot = spark.read.parquet(other).where("id % 2 = 0").persist()
    assert hot.count() == 25
    yield hot
    hot.unpersist()


def test_materialize_and_restore_keep_unrelated_cached_frames(
    spark, tmp_path, unrelated
):
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)                                 # v1
    dv_delete_where(spark, path, "k < 10")                           # v2
    for call in (
        lambda: materialize_deletes(spark, path),                    # v3
        lambda: m.restore_version(spark, path, 1),                   # v4
    ):
        call()
        level = unrelated.storageLevel
        assert level.useMemory or level.useDisk
        assert unrelated.count() == 25
    assert read_mor(spark, path).count() == 100


def test_materialize_and_restore_refresh_frames_over_the_table(
    spark, tmp_path
):
    """Frames persisted over the table count the rows each call leaves:
    the base scan and :func:`read_mor` re-list their directories."""
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)                                 # v1
    dv_delete_where(spark, path, "k < 10")                           # v2
    base = spark.read.parquet(path).persist()
    live = read_mor(spark, path).persist()
    try:
        assert (base.count(), live.count()) == (100, 90)
        materialize_deletes(spark, path)                             # v3
        assert (base.count(), live.count()) == (90, 90)
        m.restore_version(spark, path, 1)                            # v4
        assert (base.count(), live.count()) == (100, 100)
    finally:
        base.unpersist()
        live.unpersist()


def _crash_in_txn(spark, path, verb):
    """Run ``verb`` inside a transaction whose process then dies: the
    registry entry is gone, the lock and the uncommitted state remain."""
    from sql_query_optimizer_cpp_spark.operators.mutate import _ACTIVE_TXNS
    from sql_query_optimizer_cpp_spark.operators.txn import begin

    txn = begin(spark, path)
    verb()
    _ACTIVE_TXNS.clear()
    txn._states = None


def _compact_and_txn_calls(spark, path):
    """``(name, call, rows the table holds after it)`` for compact and
    transaction commit, rollback and crash recovery on a 100-row table."""
    from sql_query_optimizer_cpp_spark.operators.txn import begin, recover_table

    def commit():
        with begin(spark, path):
            m.delete_where(spark, path, "k < 10")

    def rollback():
        txn = begin(spark, path)
        m.delete_where(spark, path, "k < 20")
        assert txn.rollback() > 0

    def recover():
        _crash_in_txn(
            spark, path, lambda: m.update_where(spark, path, {"k": "-k"}, "k < 50")
        )
        assert recover_table(spark, path, force=True) > 0

    return [
        ("compact", lambda: m.compact(spark, path), 100),
        ("commit", commit, 90),
        ("rollback", rollback, 90),
        ("recover_table", recover, 90),
    ]


def test_compact_and_transactions_keep_unrelated_cached_frames(
    spark, tmp_path, unrelated
):
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)
    for name, call, _ in _compact_and_txn_calls(spark, path):
        call()
        level = unrelated.storageLevel
        assert level.useMemory or level.useDisk, name
        assert unrelated.count() == 25, name


def test_compact_and_transactions_refresh_frames_over_the_table(
    spark, tmp_path
):
    """A frame persisted over the table counts the rows each call
    leaves, and reads no file the call removed."""
    path = _table(spark, tmp_path)
    m.enable_versioning(spark, path)
    base = spark.read.parquet(path).persist()
    try:
        assert base.count() == 100
        for name, call, rows in _compact_and_txn_calls(spark, path):
            call()
            assert base.count() == rows, name
            assert base.where("k < 0").count() == 0, name
    finally:
        base.unpersist()
