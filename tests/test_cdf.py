"""cow_changes CDF source (streaming/cdf.py): batch + streaming reads of
the version log via the PySpark Python DataSource API.

The reference has no CDC surface at all (engine/src/parser.cpp:232-296
parses DML and stops); semantics here follow Delta's CDF shape — raw
file-granular changes per commit, v1 as the initial snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_query_optimizer_cpp_spark.operators.mutate import (
    delete_where,
    merge_into,
    update_where,
)
from sql_query_optimizer_cpp_spark.operators.versioning import (
    enable_versioning,
)
from sql_query_optimizer_cpp_spark.streaming.cdf import register


@pytest.fixture()
def versioned_table(spark, tmp_path):
    path = str(tmp_path / "cdf")
    spark.range(20).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.parquet(path)
    enable_versioning(spark, path)                       # v1
    update_where(spark, path, {"v": "v + 100"}, "k < 3")  # v2
    delete_where(spark, path, "k >= 18")                  # v3
    register(spark)
    register(spark)  # idempotent per session
    return path


def _load(spark, path, **opts):
    r = spark.read.format("cow_changes").option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_cdf_batch_full_history(spark, versioned_table):
    df = _load(spark, versioned_table)
    by = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in df.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # v1 = initial snapshot; v2 rewrote one 10-row file; v3 rewrote the
    # other, deleting 2 rows
    assert by == {
        (1, "insert"): 20,
        (2, "delete"): 10,
        (2, "insert"): 10,
        (3, "delete"): 10,
        (3, "insert"): 8,
    }
    # signed replay reconstructs the final state exactly: copied-row
    # delete+insert pairs cancel, net = live rows
    net = (
        df.groupBy("k", "v")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("s")
        )
        .where("s != 0")
    )
    live = {(r["k"], r["v"]) for r in net.where("s = 1").collect()}
    actual = {
        (r["k"], r["v"]) for r in spark.read.parquet(versioned_table).collect()
    }
    assert net.where("s NOT IN (0, 1)").count() == 0
    assert live == actual


def test_cdf_batch_version_range(spark, versioned_table):
    df = _load(spark, versioned_table, fromVersion="2", toVersion="2")
    assert df.select("_commit_version").distinct().collect() == [Row(_commit_version=2)]
    ins = df.where("_change_type = 'insert' AND k < 3").orderBy("k")
    assert [r["v"] for r in ins.collect()] == [100.0, 101.0, 102.0]
    # an empty range still scans cleanly (schema-only)
    empty = _load(spark, versioned_table, fromVersion="9", toVersion="9")
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_cdf_streaming_with_restart(spark, versioned_table, tmp_path):
    """availableNow drains the committed history; a RESTART from the same
    checkpoint replays nothing old and picks up only versions committed
    in between — exactly-once off immutable manifests."""
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            spark.readStream.format("cow_changes")
            .option("path", versioned_table)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(sink)
    by = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in first.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by == {
        (1, "insert"): 20,
        (2, "delete"): 10,
        (2, "insert"): 10,
        (3, "delete"): 10,
        (3, "insert"): 8,
    }
    n_first = first.count()
    # a new commit lands while the stream is down; the restarted stream
    # appends ONLY version 4's changes (one 10-row file rewritten)
    update_where(spark, versioned_table, {"v": "v * 2"}, "k = 5")  # v4
    drain()
    after = spark.read.parquet(sink)
    assert after.count() == n_first + 20
    assert after.where("_commit_version = 4").count() == 20
    assert (
        after.where(
            "_commit_version = 4 AND _change_type = 'insert' AND k = 5"
        ).first()["v"]
        == 10.0
    )


def test_cdf_partitioned_and_merge_inserts(spark, tmp_path):
    """Partition columns come back typed from the directory names; a
    MERGE's brand-new partition shows up as pure inserts."""
    path = str(tmp_path / "cdf_part")
    spark.range(30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v", "id % 3 AS p"
    ).repartition(1).write.partitionBy("p").parquet(path)
    enable_versioning(spark, path)                        # v1
    src = spark.createDataFrame([Row(k=100, v=7.0, p=9)])
    merge_into(spark, path, src, on=["k"])                # v2
    register(spark)
    df = _load(spark, path)
    assert dict(df.dtypes)["p"] == "bigint"
    v2 = df.where("_commit_version = 2").collect()
    assert [(r["k"], r["v"], r["p"], r["_change_type"]) for r in v2] == [
        (100, 7.0, 9, "insert")
    ]
    assert df.where("_commit_version = 1").count() == 30


def test_cdf_schema_evolution_null_backfill(spark, tmp_path):
    path = str(tmp_path / "cdf_evo")
    spark.range(10).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.parquet(path)
    enable_versioning(spark, path)                        # v1
    src = spark.createDataFrame([(3, "tagged")], "k long, note string")
    merge_into(
        spark, path, src, on=["k"], matched_set={"note": "src_note"},
        evolve_schema=True,
    )                                                     # v2
    register(spark)
    df = _load(spark, path)
    assert "note" in df.columns
    # pre-evolution images NULL-backfill; the touched row carries the tag
    assert df.where("_commit_version = 1 AND note IS NOT NULL").count() == 0
    tagged = df.where("_change_type = 'insert' AND note = 'tagged'")
    assert [r["k"] for r in tagged.collect()] == [3]


def test_cdf_errors(spark, tmp_path):
    register(spark)
    bare = str(tmp_path / "no_log")
    spark.range(3).write.parquet(bare)
    with pytest.raises(Exception, match="enable_versioning"):
        _load(spark, bare).count()
    enable_versioning(spark, bare)
    with pytest.raises(Exception, match="POSIX-visible"):
        _load(spark, "s3://bucket/t").count()


def test_cdf_stream_replicates_table(spark, versioned_table, tmp_path):
    """CDC replication end-to-end: stream the cow_changes feed and apply
    each micro-batch to a REPLICA via merge_into (insert upserts, delete
    tombstones — copied-row delete+insert pairs are no-op upserts).
    After draining, replica == source byte-for-byte: the raw feed plus
    the MERGE verb compose into table replication."""
    replica = str(tmp_path / "replica")
    src_now = spark.read.parquet(versioned_table)
    # seed: one all-NULL-free empty file so COW MERGE has a target
    src_now.limit(0).coalesce(1).write.parquet(replica)
    ckpt = str(tmp_path / "replica_ckpt")

    from pyspark.sql.window import Window

    def apply_batch(batch, _batch_id):
        if batch.isEmpty():
            return
        # last action per key wins; an update's insert outranks its
        # delete at the same version (delete+insert pair = upsert)
        w = Window.partitionBy("k").orderBy(
            F.col("_commit_version").desc(),
            F.when(F.col("_change_type") == "insert", 1)
            .otherwise(0)
            .desc(),
        )
        last = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1")
            .drop("__rn")
        )
        from sql_query_optimizer_cpp_spark.operators.mutate import (
            merge_into,
        )

        merge_into(
            batch.sparkSession,
            replica,
            last.select("k", "v", "_change_type"),
            on=["k"],
            matched_set={"v": "src_v"},
            matched_delete="src__change_type = 'delete'",
            insert_condition="src__change_type = 'insert'",
            insert_values={"v": "src_v"},
        )

    q = (
        spark.readStream.format("cow_changes")
        .option("path", versioned_table)
        .load()
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(replica).collect()
    )
    want = sorted((r["k"], r["v"]) for r in src_now.collect())
    assert got == want


def test_cdf_net_changes_matches_read_changes(spark, versioned_table):
    """net_changes over the raw feed == read_changes over the same range
    (the copied-row pairs cancel identically)."""
    from sql_query_optimizer_cpp_spark.operators.versioning import read_changes
    from sql_query_optimizer_cpp_spark.streaming.cdf import net_changes

    raw = _load(spark, versioned_table, fromVersion="2")  # v2..v3
    got = sorted(
        map(tuple, net_changes(raw).select("_change_type", "k", "v").collect())
    )
    want = sorted(
        map(
            tuple,
            read_changes(spark, versioned_table, 1)
            .select("_change_type", "k", "v")
            .collect(),
        )
    )
    assert got == want


def test_cdf_from_latest_tails_new_commits(spark, versioned_table, tmp_path):
    """fromVersion='latest': a stream starts AFTER the existing history
    (nothing replayed) and picks up only commits made while it runs; a
    batch read resolves to just the newest commit."""
    ckpt, sink = str(tmp_path / "lc"), str(tmp_path / "ls")

    def drain():
        q = (
            spark.readStream.format("cow_changes")
            .option("path", versioned_table)
            .option("fromVersion", "latest")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    import glob

    first = (
        spark.read.parquet(sink).count()
        if glob.glob(sink + "/*.parquet")
        else 0
    )
    assert first == 0  # history not replayed
    update_where(spark, versioned_table, {"v": "v + 7"}, "k = 1")  # v4
    drain()
    after = spark.read.parquet(sink)
    assert after.select("_commit_version").distinct().collect() == [
        Row(_commit_version=4)
    ]
    # batch 'latest' = just the newest commit
    b = _load(spark, versioned_table, fromVersion="latest")
    assert b.select("_commit_version").distinct().collect() == [
        Row(_commit_version=4)
    ]


def test_cdf_null_partition_value_decodes_to_null(spark, tmp_path):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__ on
    disk; cow_changes must emit NULL for it (matching read_changes /
    plain Spark reads), not the literal marker string — and must not
    crash casting the marker to the numeric partition type."""
    path = str(tmp_path / "cdf_nullpart")
    spark.createDataFrame(
        [(1, 1.0, 10), (2, 2.0, None), (3, 3.0, 10)],
        "k long, v double, p long",
    ).repartition(1).write.partitionBy("p").parquet(path)
    enable_versioning(spark, path)                        # v1
    register(spark)
    df = _load(spark, path)
    # the partition type still infers from the non-null directory
    assert dict(df.dtypes)["p"] == "bigint"
    rows = {r["k"]: r["p"] for r in df.collect()}
    assert rows == {1: 10, 2: None, 3: 10}
    # and a MERGE that inserts another NULL-partition row stays readable
    src = spark.createDataFrame(
        [(9, 9.0, None)], "k long, v double, p long"
    )
    merge_into(spark, path, src, on=["k"])                # v2
    v2 = _load(spark, path).where("_commit_version = 2").collect()
    assert [(r["k"], r["p"]) for r in v2] == [(9, None)]


def test_cdf_merge_on_read_commits(spark, tmp_path):
    """Unification (r9): cow_changes reads DV commits — a dv_delete
    emits exactly the tombstoned rows as deletes, a dv_update its
    delete+insert pair, a materialize nets to zero, and the whole feed
    matches operators.mutate.read_changes pair by pair."""
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        dv_update_where,
        materialize_deletes,
    )
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        read_changes,
        restore_version,
    )
    from sql_query_optimizer_cpp_spark.streaming.cdf import net_changes

    path = str(tmp_path / "cdf_mor")
    spark.range(40).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).repartition(2).write.parquet(path)
    enable_versioning(spark, path)                          # v1
    dv_delete_where(spark, path, "k < 4")                   # v2
    dv_update_where(spark, path, {"v": "v + 100"}, "k = 20")  # v3
    materialize_deletes(spark, path)                        # v4
    restore_version(spark, path, 2)                         # v5
    register(spark)
    df = _load(spark, path)
    v2 = df.where("_commit_version = 2")
    assert {
        (r["_change_type"], r["k"]) for r in v2.collect()
    } == {("delete", i) for i in range(4)}
    v3 = df.where("_commit_version = 3")
    assert {
        (r["_change_type"], r["v"]) for r in v3.collect()
    } == {("delete", 20.0), ("insert", 120.0)}
    assert net_changes(df.where("_commit_version = 4")).count() == 0
    # every adjacent pair of the feed equals the Spark-side CDC read
    for a in (1, 2, 3, 4):
        rc = read_changes(spark, path, a, a + 1)
        nc = net_changes(df.where(f"_commit_version = {a + 1}"))
        assert rc.exceptAll(nc).count() == 0
        assert nc.exceptAll(rc).count() == 0


def test_cdf_streaming_across_dv_commits(spark, tmp_path):
    """The cow_changes STREAM replays DV commits exactly-once across a
    checkpoint restart: a dv_delete landing while the stream is down
    arrives as just its tombstoned rows."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    path = str(tmp_path / "cdf_mor_stream")
    spark.range(30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.parquet(path)
    enable_versioning(spark, path)                     # v1
    register(spark)
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sink")

    def drain():
        q = (
            spark.readStream.format("cow_changes")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(sink).count() == 30      # v1 snapshot
    dv_delete_where(spark, path, "k < 3")              # v2 while down
    drain()
    after = spark.read.parquet(sink)
    v2 = after.where("_commit_version = 2")
    assert {(r["_change_type"], r["k"]) for r in v2.collect()} == {
        ("delete", 0), ("delete", 1), ("delete", 2)
    }
    assert after.count() == 33                         # nothing replayed


def test_cdf_max_versions_per_trigger(spark, tmp_path):
    """maxVersionsPerTrigger bounds how many commits one micro-batch
    covers: a 5-version backlog drains as ordered <=2-version batches,
    every row exactly once."""
    path = str(tmp_path / "cdf_rate")
    spark.range(10).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    enable_versioning(spark, path)                       # v1
    for i in range(4):                                   # v2..v5
        update_where(spark, path, {"v": "v + 1"}, f"k = {i}")
    register(spark)
    batches: list[list[int]] = []

    def sink(df, epoch):
        vs = sorted(
            r["_commit_version"]
            for r in df.select("_commit_version").distinct().collect()
        )
        if vs:
            batches.append(vs)

    q = (
        spark.readStream.format("cow_changes")
        .option("path", path)
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            if batches and batches[-1] and batches[-1][-1] == 5:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    covered = [v for b in batches for v in b]
    assert covered == sorted(covered)                    # ordered
    assert covered == list(range(1, 6))                  # exactly once
    assert all(len(b) <= 2 for b in batches), batches    # capped
    # RESTART from the checkpoint with a fresh backlog: the reader's
    # assumed-fresh first offset lags the checkpoint, which the engine
    # clamps (no regression, no replay) — new commits drain capped
    for i in range(4, 8):                                # v6..v9
        update_where(spark, path, {"v": "v + 1"}, f"k = {i}")
    batches.clear()
    q = (
        spark.readStream.format("cow_changes")
        .option("path", path)
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            if batches and batches[-1] and batches[-1][-1] == 9:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    covered = [v for b in batches for v in b]
    assert covered == list(range(6, 10)), batches        # only the new ones
    assert all(len(b) <= 2 for b in batches), batches    # still capped


def test_cdf_rate_cursor_offset_format_and_sync(spark, tmp_path):
    """The rate-limit cursor is durable against engine call ordering:
    offsets carry last_end, partitions() syncs from BOTH offsets (old
    plain-version checkpoint format included), and commit() is a second
    authoritative signal — a fresh runner whose first engine contact is
    any of those never regresses behind the checkpoint."""
    from sql_query_optimizer_cpp_spark.streaming.cdf import (
        _CowChangesStreamReader,
    )

    path = str(tmp_path / "cdf_cursor")
    spark.range(6).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    enable_versioning(spark, path)                       # v1
    for i in range(4):                                   # v2..v5
        update_where(spark, path, {"v": "v + 1"}, f"k = {i}")
    st = spark.read.parquet(path).schema

    def reader(**opts):
        return _CowChangesStreamReader(
            {"path": path, "maxversionspertrigger": "2", **opts}, st
        )

    # offsets carry last_end alongside version
    r = reader()
    off = r.initialOffset()
    assert off == {"version": 0, "last_end": 0}
    assert r.latestOffset() == {"version": 2, "last_end": 2}
    assert r.latestOffset() == {"version": 4, "last_end": 4}
    # restart shape: fresh runner, engine replays a checkpointed batch
    # through partitions() FIRST — old plain format must still sync
    r2 = reader()
    r2.partitions({"version": 2}, {"version": 4})
    assert r2.latestOffset() == {"version": 5, "last_end": 5}
    # commit() alone also seeds the cursor (defense for a future engine
    # that acknowledges before planning)
    r3 = reader()
    r3.commit({"version": 4, "last_end": 4})
    assert r3.latestOffset() == {"version": 5, "last_end": 5}
    # without any engine contact the assumed-fresh position still rate
    # limits from fromVersion (the documented fresh-start behavior)
    assert reader().latestOffset() == {"version": 2, "last_end": 2}
    # and fromVersion='latest' consumes nothing that already happened
    assert reader(fromversion="latest").latestOffset() == {
        "version": 5, "last_end": 5,
    }
