"""Version-log reads (operators/versioning.py, operators/mor.py): how much
work BUILDING a time-travel / change-feed frame may do before its action
runs, and the path-scoped cache refresh of the commits outside the DML
verbs (materialize_deletes, restore_version, compact, and transaction
commit, rollback and recovery)."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from sql_query_optimizer_cpp_spark.operators import mutate as m, storage, versioning
from sql_query_optimizer_cpp_spark.operators.mor import (
    dv_delete_where,
    materialize_deletes,
    read_mor,
)

from .conftest import SF_DIR


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
    versioning.enable_versioning(spark, path)                        # v1
    v1 = _rows(read_mor(spark, path))
    assert dv_delete_where(spark, path, "k < 5").rows_matched == 5   # v2
    assert dv_delete_where(
        spark, path, "k IN (60, 61)"
    ).rows_matched == 2  # v3
    # the k < 5 file is 20% dead and graduates; the k = 60 file (8%)
    # keeps its vectors in a pruned batch
    st = materialize_deletes(spark, path, min_dead_ratio=0.1)        # v4
    assert st.files_rewritten == 1
    v4 = _rows(read_mor(spark, path))
    df, jobs = _build_jobs(
        spark, lambda: versioning.read_changes(spark, path, 1, 4)
    )
    assert jobs <= 3
    got = _changes(df)
    assert got == _net(v1, v4)
    assert {r[1] for r in got} == {0, 1, 2, 3, 4, 60, 61}


def test_read_changes_cow_range_builds_in_one_job(spark, tmp_path):
    path = _table(spark, tmp_path)
    versioning.enable_versioning(spark, path)                        # v1
    v1 = _rows(spark.read.parquet(path))
    m.delete_where(spark, path, "k BETWEEN 10 AND 12")               # v2
    m.update_where(spark, path, {"v": "v + 100"}, "k >= 90")         # v3
    v3 = _rows(spark.read.parquet(path))
    df, jobs = _build_jobs(
        spark, lambda: versioning.read_changes(spark, path, 1, 3)
    )
    assert jobs <= 1
    assert _changes(df) == _net(v1, v3)
    assert df.count() == 3 + 2 * 10


def test_read_version_across_retired_batches_builds_in_one_job(
    spark, tmp_path
):
    """Version 1's files end up in the root and in two different
    ``_retired/<batch>/`` dirs; its frame still builds with one job."""
    path = _table(spark, tmp_path)
    versioning.enable_versioning(spark, path)                        # v1
    v1 = _rows(spark.read.parquet(path))
    m.update_where(spark, path, {"v": "-1.0"}, "k < 3")              # v2
    m.update_where(spark, path, {"v": "-2.0"}, "k BETWEEN 30 AND 31")  # v3
    retired = tmp_path / "t" / storage.RETIRED_DIR
    assert len(list(retired.iterdir())) == 2
    df, jobs = _build_jobs(
        spark, lambda: versioning.read_version(spark, path, 1)
    )
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
    versioning.enable_versioning(spark, path)                        # v1
    v1 = _rows(spark.read.parquet(path), cols)
    m.update_where(spark, path, {"v": "v + 1"}, "p = 0 AND k < 9")   # v2
    dv_delete_where(spark, path, "k IN (1, 2, 4)")                   # v3
    v3 = _rows(read_mor(spark, path), cols)
    assert (tmp_path / "part" / storage.RETIRED_DIR).exists()
    old = versioning.read_version(spark, path, 1)
    assert "p" in old.columns
    assert _rows(old, cols) == v1
    ch = versioning.read_changes(spark, path, 1, 3)
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
    versioning.enable_versioning(spark, path)                        # v1
    src = spark.createDataFrame([(5, 5_000_000_000)], "k int, v long")
    m.merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"},
        evolve_schema=True,
    )                                                                # v2
    ch = versioning.read_changes(spark, path, 1, 2)
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
    versioning.enable_versioning(spark, path)                        # v1
    dv_delete_where(spark, path, "k < 10")                           # v2
    for call in (
        lambda: materialize_deletes(spark, path),                    # v3
        lambda: versioning.restore_version(spark, path, 1),          # v4
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
    versioning.enable_versioning(spark, path)                        # v1
    dv_delete_where(spark, path, "k < 10")                           # v2
    base = spark.read.parquet(path).persist()
    live = read_mor(spark, path).persist()
    try:
        assert (base.count(), live.count()) == (100, 90)
        materialize_deletes(spark, path)                             # v3
        assert (base.count(), live.count()) == (90, 90)
        versioning.restore_version(spark, path, 1)                   # v4
        assert (base.count(), live.count()) == (100, 100)
    finally:
        base.unpersist()
        live.unpersist()


def _crash_in_txn(spark, path, verb):
    """Run ``verb`` inside a transaction whose process then dies: the
    registry entry is gone, the lock and the uncommitted state remain."""
    from sql_query_optimizer_cpp_spark.operators.storage import _ACTIVE_TXNS
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
    versioning.enable_versioning(spark, path)
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
    versioning.enable_versioning(spark, path)
    base = spark.read.parquet(path).persist()
    try:
        assert base.count() == 100
        for name, call, rows in _compact_and_txn_calls(spark, path):
            call()
            assert base.count() == rows, name
            assert base.where("k < 0").count() == 0, name
    finally:
        base.unpersist()


# -- the footer memo: warm reads and commits fire no inference job ------------


@pytest.fixture
def parquet_read_jobs(spark, monkeypatch):
    """Jobs fired INSIDE each ``DataFrameReader.parquet`` call — Spark's
    schema inference (and listing) runs there, before any action."""
    from pyspark.sql.readwriter import DataFrameReader

    sc = spark.sparkContext
    orig = DataFrameReader.parquet
    counts: list[int] = []

    def counted(self, *paths, **options):
        old = sc.getLocalProperty("spark.jobGroup.id")
        group = f"pq-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "parquet read")
        try:
            return orig(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", old)
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return counts


def _verb(verb, mode):
    """One statement of ``verb`` in ``mode`` (``occ``: copy-on-write with
    ``optimistic=True``), as ``fn(spark, path, i)`` (``i`` varies the
    keys so repeated calls all match rows)."""
    from sql_query_optimizer_cpp_spark.operators import mor

    name = {"update": "update_where", "delete": "delete_where"}.get(
        verb, "merge_into"
    )
    fn = getattr(mor, f"dv_{name}") if mode == "mor" else getattr(m, name)
    kw = {"optimistic": mode == "occ"}

    def run(s, p, i):
        if verb == "update":
            return fn(s, p, {"v": "v + 1"}, f"k = {10 * i}", **kw)
        if verb == "delete":
            return fn(s, p, f"k = {10 * i + 2}", **kw)
        src = s.createDataFrame(
            [(10 * i + 1, 0.5), (1000 + i, 1.5)], "k long, v double"
        )
        return fn(s, p, src, ["k"], matched_set={"v": "src_v"}, **kw)

    return run


@pytest.mark.parametrize("mode", ["cow", "occ", "mor"])
@pytest.mark.parametrize("verb", ["update", "delete", "merge"])
def test_warm_commit_fires_no_inference_job(
    spark, tmp_path, parquet_read_jobs, verb, mode
):
    """Every verb in every mode, on a versioned table: once its files'
    footers are in the session memo, a commit reads every schema from
    it — no job fires inside a parquet read."""
    path = _table(spark, tmp_path)
    versioning.enable_versioning(spark, path)
    run = _verb(verb, mode)
    run(spark, path, 1)  # warm: this commit's own files are new to it
    parquet_read_jobs.clear()
    run(spark, path, 2)
    assert parquet_read_jobs and sum(parquet_read_jobs) == 0


def test_warm_table_read_builds_without_a_job(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.engine import Engine

    path = _table(spark, tmp_path)
    dv_delete_where(spark, path, "k < 3")
    eng = Engine(spark)
    assert eng.table(path).count() == 97  # warms the memo
    df, jobs = _build_jobs(spark, lambda: eng.table(path))
    assert jobs == 0
    assert df.count() == 97


def test_warm_version_and_change_reads_build_without_a_job(spark, tmp_path):
    """Version 1 spread over the root and two ``_retired/`` batches, and
    a change feed over a merge-on-read range: after one read each, the
    frames build with no job (the DV range keeps its one bounded
    collect, which is not a parquet read)."""
    path = _table(spark, tmp_path)
    versioning.enable_versioning(spark, path)                        # v1
    v1 = _rows(spark.read.parquet(path))
    m.update_where(spark, path, {"v": "-1.0"}, "k < 3")              # v2
    m.update_where(spark, path, {"v": "-2.0"}, "k BETWEEN 30 AND 31")  # v3
    assert len(list((tmp_path / "t" / storage.RETIRED_DIR).iterdir())) == 2
    v3 = _rows(spark.read.parquet(path))
    _rows(versioning.read_version(spark, path, 1))
    _rows(versioning.read_changes(spark, path, 1, 3))
    df, jobs = _build_jobs(
        spark, lambda: versioning.read_version(spark, path, 1)
    )
    assert jobs == 0
    assert _rows(df) == v1
    df, jobs = _build_jobs(
        spark, lambda: versioning.read_changes(spark, path, 1, 3)
    )
    assert jobs == 0
    assert _changes(df) == _net(v1, v3)


def test_warm_dv_change_feed_fires_no_inference_job(
    spark, tmp_path, parquet_read_jobs
):
    path = _table(spark, tmp_path)
    versioning.enable_versioning(spark, path)                        # v1
    v1 = _rows(read_mor(spark, path))
    dv_delete_where(spark, path, "k < 5")                            # v2
    v2 = _rows(read_mor(spark, path))
    _rows(versioning.read_changes(spark, path, 1, 2))
    parquet_read_jobs.clear()
    df = versioning.read_changes(spark, path, 1, 2)
    assert parquet_read_jobs and sum(parquet_read_jobs) == 0
    assert _changes(df) == _net(v1, v2)


def test_staged_rows_come_from_footers(spark, tmp_path):
    """MERGE's insert staging counts its rows without a job."""
    staging = str(tmp_path / "staged")
    spark.range(37).repartition(3).write.parquet(staging)
    n, jobs = _build_jobs(spark, lambda: m._staged_rows(spark, staging))
    assert (n, jobs) == (37, 0)
    empty = str(tmp_path / "empty")
    spark.range(0).selectExpr("id AS k", "id AS p").write.partitionBy(
        "p").parquet(empty)
    assert m._staged_rows(spark, empty) == 0


def _exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]


def _change_ranges(spark, tmp_path):
    """A copy-on-write and a merge-on-read table, each with a committed
    range to diff."""
    cow = _table(spark, tmp_path, "cow")
    versioning.enable_versioning(spark, cow)
    m.update_where(spark, cow, {"v": "v + 100"}, "k >= 90")
    m.delete_where(spark, cow, "k BETWEEN 10 AND 12")
    mor_ = _table(spark, tmp_path, "mor")
    versioning.enable_versioning(spark, mor_)
    dv_delete_where(spark, mor_, "k < 5")
    materialize_deletes(spark, mor_)
    dv_delete_where(spark, mor_, "k BETWEEN 50 AND 52")
    return [(cow, 1, 3), (mor_, 1, 4)]


def test_small_change_feed_diffs_in_one_task(spark, tmp_path):
    """Touched files within the one-task bound (1 MB listed): no shuffle
    below the diff aggregate, and the whole diff is one task."""
    for path, lo, hi in _change_ranges(spark, tmp_path):
        df = versioning.read_changes(spark, path, lo, hi)
        assert _exchanges(df) == []
        assert df.rdd.getNumPartitions() == 1


@pytest.mark.parametrize(
    "key",
    [
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    ],
)
def test_change_feed_above_one_split_keeps_its_shuffle(spark, tmp_path, key):
    """Shrinking either conf the one-task bound takes below the touched
    bytes restores the shuffle plan; both plans return the same rows."""
    for path, lo, hi in _change_ranges(spark, tmp_path):
        small = versioning.read_changes(spark, path, lo, hi)
        assert _exchanges(small) == []
        want = _changes(small)
        old = spark.conf.get(key)
        spark.conf.set(key, "1")
        try:
            big = versioning.read_changes(spark, path, lo, hi)
            assert _exchanges(big)
            got = _changes(big)
        finally:
            spark.conf.set(key, old)
        assert got == want


# -- schema identity: the reader's schema is Spark's inferred schema ----------


def _inferred(spark, *paths):
    return spark.read.option("mergeSchema", "true").parquet(*paths).schema


def _inferred_files(spark, files):
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(*files)
        .schema
    )


def test_reader_schema_matches_inference_after_evolution(spark, tmp_path):
    """An evolve_schema MERGE that adds a column (old files lack it),
    then one that widens a column (every file rewritten): the live
    table, its file sets and an old version's files (now under
    ``_retired/``) read with exactly the schema inference gives."""
    from sql_query_optimizer_cpp_spark.operators import reader

    path = str(tmp_path / "evolved")
    spark.range(40).selectExpr(
        "CAST(id AS int) AS k", "CAST(id AS int) AS v"
    ).repartition(4).write.parquet(path)
    versioning.enable_versioning(spark, path)                        # v1
    add = spark.createDataFrame([(3, 30, "x"), (99, 1, "y")],
                                "k int, v int, tag string")
    m.merge_into(spark, path, add, ["k"], matched_set={"tag": "src_tag"},
                 evolve_schema=True)                                 # v2
    widen = spark.createDataFrame([(5, 5_000_000_000)], "k int, v long")
    for step in ("added", "widened"):
        files = reader.list_files(spark, path)
        if step == "added":
            shapes = {len(_inferred(spark, f.path)) for f in files}
            assert shapes == {2, 3}
        assert reader.schema(spark, files).json() == \
            _inferred_files(spark, [f.path for f in files]).json()
        assert reader.read(spark, path).schema.json() == \
            _inferred(spark, path).json()
        m.merge_into(spark, path, widen, ["k"], matched_set={"v": "src_v"},
                     evolve_schema=True)                             # v3
    assert dict(reader.read(spark, path).dtypes)["v"] == "bigint"
    rels = versioning._VersionLog(spark, path).states(2)[2][0]
    pinned = versioning._resolve_pinned_files(spark, path, rels, "v2")
    assert any(versioning.RETIRED_DIR in f.path for f in pinned)
    assert versioning.read_version(spark, path, 2).schema.json() == \
        _inferred_files(spark, [f.path for f in pinned]).json()


def test_reader_schema_matches_inference_hive_partitioned(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators import reader

    path = str(tmp_path / "hive")
    spark.range(30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v", "CAST(id % 3 AS int) AS p",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS q",
    ).write.partitionBy("p", "q").parquet(path)
    files = reader.list_files(spark, path, recursive=True)
    assert m._partition_cols(path, files[0].path) == ["p", "q"]
    assert reader.read(spark, path).schema.json() == \
        _inferred(spark, path).json()
    assert reader.read_files(spark, files[:2], path).schema.json() == \
        spark.read.option("basePath", path).option("mergeSchema", "true") \
        .parquet(*[f.path for f in files[:2]]).schema.json()


def test_reader_schema_matches_inference_with_live_dvs(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators import reader

    path = _table(spark, tmp_path)
    dv_delete_where(spark, path, "k < 7")
    assert read_mor(spark, path).schema.json() == \
        _inferred(spark, path).json()
    dv = f"{path}/_dv"
    assert reader.read(spark, dv).schema.json() == _inferred(spark, dv).json()
    assert reader.row_count(spark, reader.list_files(spark, dv)) == 7


def test_reader_schema_matches_inference_on_events(spark):
    """The nanosecond-timestamp fixture converts under the session's
    ``nanosAsLong`` conf; the memo never serves a schema converted
    under another value of it."""
    from sql_query_optimizer_cpp_spark.catalog import table_path
    from sql_query_optimizer_cpp_spark.operators import reader

    path = table_path(SF_DIR, "events")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        for flag in ("true", "false", "true"):
            spark.conf.set(key, flag)
            try:
                want = spark.read.parquet(path).schema.json()
            except Exception:
                with pytest.raises(Exception):
                    reader.read(spark, path)
                continue
            assert reader.read(spark, path).schema.json() == want
    finally:
        spark.conf.set(key, old)


def test_reader_falls_back_to_one_inference_above_the_threshold(
    spark, tmp_path, parquet_read_jobs
):
    """More new files than Spark's parallel-discovery threshold: one
    inference over just those files, with the same schema and counts."""
    from sql_query_optimizer_cpp_spark.operators import reader

    path = _table(spark, tmp_path, files=6)
    files = reader.list_files(spark, path)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        parquet_read_jobs.clear()
        got = reader.schema(spark, files)
        assert sum(parquet_read_jobs) >= 1
        assert reader.row_count(spark, files) == 100
    finally:
        spark.conf.set(key, old)
    assert got.json() == _inferred(spark, path).json()
    assert reader.row_count(spark, files) == 100  # now from footers


def test_footer_memo_stays_under_its_bound_across_commits(spark, tmp_path):
    """Every commit writes new files and retires old ones.  With the
    memo's bound (Spark's file-listing cache size) set to a few entries,
    the memo stays under it however many commits run, and the table
    still reads right."""
    from sql_query_optimizer_cpp_spark.operators import reader

    path = _table(spark, tmp_path)
    versioning.enable_versioning(spark, path)
    key = "spark.sql.hive.filesourcePartitionFileCacheSize"
    old = spark.conf.get(key)
    cap = 8000
    spark.conf.set(key, str(cap))
    try:
        for i in range(8):
            m.update_where(spark, path, {"v": "v + 1"}, f"k = {10 * i}")
            memo = reader._state(spark).footers
            assert 0 < memo.bytes <= cap
        assert m.read_table(spark, path).count() == 100
    finally:
        spark.conf.set(key, old)


def test_merged_schema_follows_case_sensitivity(spark):
    """Merging ``a`` and ``A`` gives one column case-insensitively and
    two case-sensitively, whichever setting merged them first."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from sql_query_optimizer_cpp_spark.operators import reader

    a = StructType([StructField("a", LongType())]).json()
    b = StructType([StructField("A", LongType())]).json()
    key = "spark.sql.caseSensitive"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        insensitive = reader._merge(spark, [a, b])
        spark.conf.set(key, "true")
        sensitive = reader._merge(spark, [a, b])
    finally:
        spark.conf.set(key, old)
    assert len(json.loads(insensitive)["fields"]) == 1
    assert len(json.loads(sensitive)["fields"]) == 2


def test_compact_keeps_columns_an_evolution_added(spark, tmp_path):
    """A compaction group mixing files from before and after an
    ``evolve_schema`` MERGE rewrites with the group's merged schema: the
    added column's values survive, whichever file lists first."""
    path = str(tmp_path / "evolved")
    spark.range(20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .repartition(4).write.parquet(path)
    src = spark.createDataFrame([(3, 9.0, "x"), (17, 9.0, "y")],
                                "k long, v double, tag string")
    m.merge_into(spark, path, src, ["k"], matched_set={"tag": "src_tag"},
                 evolve_schema=True)
    want = _rows(m.read_table(spark, path), ("k", "v", "tag"))
    assert ("x" in {r[2] for r in want}) and ("y" in {r[2] for r in want})
    st = m.compact(spark, path)
    assert st.files_rewritten > 1
    assert _rows(m.read_table(spark, path), ("k", "v", "tag")) == want
