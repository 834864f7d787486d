"""Merge-on-read deletion vectors (operators/mor.py): DV delete/update
semantics, read_mor equivalence, materialize, and the mutual-exclusion
guards against the copy-on-write / versioning layers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_optimizer_cpp_spark.operators import (
    constraints,
    dml_sql,
    versioning,
)
from sql_query_optimizer_cpp_spark.operators import mutate as m, storage
from sql_query_optimizer_cpp_spark.operators.mor import (
    dv_count,
    dv_delete_where,
    dv_update_where,
    has_deletion_vectors,
    materialize_deletes,
    read_mor,
)


def _flat(spark, tmp_path, n=100, files=4):
    path = str(tmp_path / "mor_flat")
    (
        spark.range(n)
        .selectExpr(
            "id AS k",
            "CAST(id % 7 AS DOUBLE) AS v",
            "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 3 END AS grp",
        )
        .repartitionByRange(files, "k")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def test_dv_delete_and_read_mor(spark, tmp_path):
    path = _flat(spark, tmp_path)
    n = dv_delete_where(spark, path, "k >= 80").rows_matched
    assert n == 20
    assert has_deletion_vectors(spark, path)
    assert dv_count(spark, path) == 20
    # MOR read applies the vectors; the base read (by contract) does not
    assert read_mor(spark, path).count() == 80
    assert spark.read.parquet(path).count() == 100
    # no data file was rewritten: the tombstones are the whole mutation
    assert len(m.list_data_files(spark, path)) == 4
    # overlapping re-delete never double-counts
    assert dv_delete_where(spark, path, "k >= 70").rows_matched == 10
    assert dv_count(spark, path) == 30
    assert read_mor(spark, path).count() == 70


def test_dv_delete_three_valued_null(spark, tmp_path):
    path = _flat(spark, tmp_path)
    # grp is NULL on k % 10 == 0: NULL predicate keeps the row (SQL DELETE)
    n = dv_delete_where(spark, path, "grp = 0").rows_matched
    kept = read_mor(spark, path)
    assert kept.where("grp IS NULL").count() == 10
    assert kept.where("grp = 0").count() == 0
    assert n + kept.count() == 100


def test_dv_src_file_is_table_relative(spark, tmp_path):
    path = _flat(spark, tmp_path)
    dv_delete_where(spark, path, "k < 5")
    rows = spark.read.parquet(path + "/_dv").collect()
    rels = {storage._rel_to_table(path, f) for f in m.list_data_files(spark, path)}
    for r in rows:
        assert not r.src_file.startswith(("file:", "/")), r.src_file
        assert r.src_file in rels
        assert r.row_idx >= 0


def test_dv_update_then_read(spark, tmp_path):
    path = _flat(spark, tmp_path)
    n = dv_update_where(spark, path, {"v": "v + 100"}, "k < 10").rows_matched
    assert n == 10
    out = read_mor(spark, path)
    assert out.count() == 100  # update preserves cardinality
    assert out.where("k < 10 AND v >= 100").count() == 10
    assert out.where("k >= 10 AND v >= 100").count() == 0
    # cast-back schema stability: v stays DOUBLE
    assert dict(out.dtypes)["v"] == "double"
    # the statement must not tombstone its own appended copies even
    # though they still match the predicate
    assert dv_count(spark, path) == 10


def test_dv_update_skips_deleted_rows(spark, tmp_path):
    path = _flat(spark, tmp_path)
    dv_delete_where(spark, path, "k < 20")
    # an update whose predicate covers deleted rows must not resurrect them
    n = dv_update_where(spark, path, {"v": "0.0"}, "k < 40").rows_matched
    assert n == 20
    out = read_mor(spark, path)
    assert out.count() == 80
    assert out.where("k < 20").count() == 0
    assert out.where("k >= 20 AND k < 40 AND v = 0.0").count() == 20


def test_dv_update_unknown_column_and_partitioned(spark, tmp_path):
    path = _flat(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown columns"):
        dv_update_where(spark, path, {"nope": "1"}, "k < 5")
    ppath = str(tmp_path / "mor_part")
    (
        spark.range(40)
        .selectExpr("id AS k", "id % 2 AS side", "CAST(id AS DOUBLE) AS v")
        .write.partitionBy("side")
        .mode("overwrite")
        .parquet(ppath)
    )
    # partitioned MOR update: copies route to their key=value dirs; a
    # predicate may reference the partition column
    n = dv_update_where(
        spark, ppath, {"v": "v + 100"}, "side = 1 AND k < 9"
    ).rows_matched
    assert n == 4  # k in {1,3,5,7}
    out = read_mor(spark, ppath)
    assert out.count() == 40
    assert out.where("v >= 100").count() == 4
    assert out.where("side = 0 AND v >= 100").count() == 0
    # assigning the partition column is refused, same rule as COW
    with pytest.raises(ValueError, match="partition columns"):
        dv_update_where(spark, ppath, {"side": "0"}, "k < 5")
    # materialize folds everything back into a plain partitioned table
    materialize_deletes(spark, ppath)
    back = spark.read.parquet(ppath)
    assert back.count() == 40 and back.where("v >= 100").count() == 4


def test_dv_partitioned_delete_and_materialize(spark, tmp_path):
    path = str(tmp_path / "mor_part2")
    (
        spark.range(60)
        .selectExpr("id AS k", "id % 3 AS side", "CAST(id AS DOUBLE) AS v")
        .write.partitionBy("side")
        .mode("overwrite")
        .parquet(path)
    )
    # predicate touches the partition column AND a data column
    n = dv_delete_where(spark, path, "side = 1 OR k < 6").rows_matched
    assert n == 60 // 3 + 4  # side==1 (20) plus k in {0,2,3,5} not side 1
    assert read_mor(spark, path).count() == 60 - n
    stats = materialize_deletes(spark, path)
    assert stats.files_rewritten >= 1
    assert not has_deletion_vectors(spark, path)
    back = spark.read.parquet(path)
    assert back.count() == 60 - n
    assert back.where("side = 1").count() == 0
    assert set(back.columns) == {"k", "side", "v"}


def test_materialize_then_cow_usable_again(spark, tmp_path):
    path = _flat(spark, tmp_path)
    dv_delete_where(spark, path, "k >= 90")
    dv_update_where(spark, path, {"v": "v * 2"}, "k < 3")
    expected = read_mor(spark, path).agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    ).first()
    materialize_deletes(spark, path)
    assert not has_deletion_vectors(spark, path)
    base = spark.read.parquet(path)
    got = base.agg(F.count("*").alias("n"), F.sum("v").alias("s")).first()
    assert got.n == expected.n and got.s == pytest.approx(expected.s)
    # COW verbs work again after materialize
    st = m.delete_where(spark, path, "k = 50")
    assert st.rows_matched == 1
    # idempotent no-op on a vector-less table
    st2 = materialize_deletes(spark, path)
    assert st2.files_rewritten == 0


def test_cow_rewrites_refuse_live_dv_tables(spark, tmp_path):
    """The file-REWRITING verbs still refuse a table with live vectors
    (a base-scan rewrite would resurrect MOR-deleted rows); versioning
    and snapshots now ACCEPT them — manifests pin the DV state."""
    path = _flat(spark, tmp_path)
    dv_delete_where(spark, path, "k = 1")
    with pytest.raises(ValueError, match="deletion vectors"):
        m.delete_where(spark, path, "k = 2")
    with pytest.raises(ValueError, match="deletion vectors"):
        m.update_where(spark, path, {"v": "0.0"}, "k = 2")
    with pytest.raises(ValueError, match="deletion vectors"):
        m.compact(spark, path)
    with pytest.raises(ValueError, match="deletion vectors"):
        m.delete_where(spark, path, "k = 2", optimistic=True)
    # snapshotting a live-DV table is now first-class: the manifest pins
    # the DV batch files and read_snapshot applies them
    versioning.create_snapshot(spark, path, "s1")
    assert versioning.read_snapshot(spark, path, "s1").count() == 99
    assert versioning.enable_versioning(spark, path) == 1
    assert versioning.read_version(spark, path, 1).count() == 99


def test_dv_commits_versions_and_time_travel(spark, tmp_path):
    """Unification (r9): on a versioned table every DV verb commits a
    version; read_version applies the DV state as-of; read_changes emits
    the tombstoned rows; materialize is a net-zero commit that keeps old
    versions readable."""
    path = _flat(spark, tmp_path)
    assert versioning.enable_versioning(spark, path) == 1
    assert dv_delete_where(spark, path, "k < 10").rows_matched == 10  # v2
    assert dv_update_where(
        spark, path, {"v": "99.0"}, "k = 50"
    ).rows_matched == 1  # v3
    assert versioning.table_versions(spark, path) == [1, 2, 3]
    assert versioning.read_version(spark, path, 1).count() == 100
    assert versioning.read_version(spark, path, 2).count() == 90
    assert versioning.read_version(
        spark, path, 2
    ).where("k = 50").first()["v"] != 99.0
    assert versioning.read_version(
        spark, path, 3
    ).where("k = 50").first()["v"] == 99.0
    ch = versioning.read_changes(spark, path, 1, 2)
    assert ch.where("_change_type = 'delete'").count() == 10
    assert ch.count() == 10
    pair = versioning.read_changes(spark, path, 2, 3)
    assert {
        (r["_change_type"], r["v"]) for r in pair.where("k = 50").collect()
    } == {("delete", 50 % 7 * 1.0), ("insert", 99.0)}
    # materialize commits v4, rewrites the tombstoned files, and is CDC
    # net-zero; v2 stays readable afterwards (batches retire, not die)
    st = materialize_deletes(spark, path)
    assert st.files_rewritten > 0
    assert versioning.table_versions(spark, path) == [1, 2, 3, 4]
    assert versioning.read_changes(spark, path, 3, 4).count() == 0
    assert not has_deletion_vectors(spark, path)
    assert versioning.read_version(spark, path, 2).count() == 90
    # COW verbs work again after the materialize, on the same version log
    assert m.delete_where(spark, path, "k = 60").rows_matched == 1  # v5
    assert versioning.table_versions(spark, path)[-1] == 5


def test_dv_restore_version_round_trip(spark, tmp_path):
    """RESTORE over DV commits: restoring to a pre-delete version
    resurrects rows via the SAME metadata-only rename plan (DV batches
    restore/retire like data files), and CDC shows the undo."""
    path = _flat(spark, tmp_path)
    versioning.enable_versioning(spark, path)                   # v1
    dv_delete_where(spark, path, "k < 10")                      # v2
    materialize_deletes(spark, path)                            # v3
    # restore to v1: the 10 rows come back as CDC inserts
    versioning.restore_version(spark, path, 1)                  # v4
    assert read_mor(spark, path).count() == 100
    ch = versioning.read_changes(spark, path, 3, 4)
    assert ch.where("_change_type = 'insert'").count() == 10
    assert ch.where("_change_type = 'delete'").count() == 0
    # restore to v2: a LIVE-DV state — the batches rename back in
    versioning.restore_version(spark, path, 2)                  # v5
    assert has_deletion_vectors(spark, path)
    assert read_mor(spark, path).count() == 90
    assert versioning.read_changes(spark, path, 4, 5).where(
        "_change_type = 'delete'"
    ).count() == 10
    # vacuum honors DV references: v2's batches survive retention
    assert versioning.read_version(spark, path, 2).count() == 90


def test_dv_update_constraint_rollback(spark, tmp_path):
    path = _flat(spark, tmp_path)
    constraints.add_constraint(spark, path, "v_nonneg", "v >= 0")
    files_before = m.list_data_files(spark, path)
    with pytest.raises(constraints.ConstraintViolation, match="v_nonneg"):
        dv_update_where(spark, path, {"v": "-1.0"}, "k < 5")
    # nothing became visible: no new files, no tombstones, data unchanged
    assert m.list_data_files(spark, path) == files_before
    assert not has_deletion_vectors(spark, path)
    assert read_mor(spark, path).where("v < 0").count() == 0
    # a passing update still works under the constraint
    assert dv_update_where(
        spark, path, {"v": "v + 1"}, "k < 5"
    ).rows_matched == 5


def test_dv_writer_lock_excludes_cow(spark, tmp_path):
    path = _flat(spark, tmp_path)
    # a held writer lock blocks the MOR verbs exactly like the COW verbs
    with storage._writer_lock(spark, path):
        with pytest.raises(storage._WriterLockHeld):
            dv_delete_where(spark, path, "k = 1")


def test_read_mor_plan_pushdown_and_broadcast(spark, tmp_path):
    """The MOR read must stay 100 TB-shaped: base-scan filter pushdown
    survives the identity projection, the DV side broadcasts (no shuffle
    of base data), and column pruning reaches the scan."""
    path = _flat(spark, tmp_path, n=1000)
    dv_delete_where(spark, path, "k >= 900")
    out = read_mor(spark, path).where("k < 100").select("v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan
    scan = out._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [IsNotNull(k), LessThan(k,100)" in scan
    # pruned: k (filter), v (projection), row_index (identity) — never grp
    assert "grp" not in scan.split("ReadSchema")[1].split("\n")[0]


def test_execute_dml_mor_routing(spark, tmp_path):
    """The textual front-end reaches the MOR verbs via mor=True, with the
    same statement text the COW path takes."""
    from sql_query_optimizer_cpp_spark.operators.dml_sql import execute_dml

    path = _flat(spark, tmp_path)
    tables = {"t": path}
    st = execute_dml(spark, "DELETE FROM t WHERE k >= 90", tables, mor=True)
    assert st.rows_matched == 10 and st.files_rewritten == 0
    st = execute_dml(
        spark, "UPDATE t SET v = v + 50 WHERE k < 5", tables, mor=True
    )
    assert st.rows_matched == 5 and st.files_rewritten == 0
    out = read_mor(spark, path)
    assert out.count() == 90
    assert out.where("v >= 50").count() == 5
    # r11: mor+optimistic composes for ALL verbs (occ_dv protocol)
    st = execute_dml(
        spark, "DELETE FROM t WHERE k = 1", tables,
        mor=True, optimistic=True,
    )
    assert st.rows_matched == 1 and st.files_rewritten == 0
    st = execute_dml(
        spark, "UPDATE t SET v = v + 1000 WHERE k = 2", tables,
        mor=True, optimistic=True,
    )
    assert st.rows_matched == 1 and st.files_rewritten == 0
    assert read_mor(spark, path).where("v >= 1000").count() == 1
    # MERGE routes to dv_merge_into under mor=True (r9); a self-merge
    # zeroing v touches every live row without rewriting any file
    st = execute_dml(
        spark,
        "MERGE INTO t USING t ON t.k = t.k "
        "WHEN MATCHED THEN UPDATE SET v = 0",
        tables,
        mor=True,
    )
    assert st.files_rewritten == 0 and st.rows_matched == 89
    out = read_mor(spark, path)
    assert out.count() == 89 and out.where("v != 0").count() == 0


def test_materialize_min_dead_ratio_incremental(spark, tmp_path):
    """Ratio-driven materialize rewrites only files past the threshold;
    the untouched files keep their vectors (read_mor stays the read path)
    and the store shrinks by the graduated files' entries."""
    path = _flat(spark, tmp_path, n=100, files=4)  # 25 rows per file
    # file 0: 20/25 dead (0.8); file 3: 2/25 dead (0.08)
    dv_delete_where(spark, path, "k < 20 OR k IN (80, 81)")
    assert dv_count(spark, path) == 22
    # below every file's ratio: nothing rewritten, vectors intact
    st = materialize_deletes(spark, path, min_dead_ratio=0.9)
    assert st.files_rewritten == 0
    assert dv_count(spark, path) == 22
    # 0.5 graduates only the 0.8-dead file
    st = materialize_deletes(spark, path, min_dead_ratio=0.5)
    assert st.files_rewritten == 1
    assert has_deletion_vectors(spark, path)
    assert dv_count(spark, path) == 2  # the graduated file's 20 pruned
    assert read_mor(spark, path).count() == 78
    # full materialize finishes the rest
    st = materialize_deletes(spark, path)
    assert st.files_rewritten == 1
    assert not has_deletion_vectors(spark, path)
    assert spark.read.parquet(path).count() == 78


def test_dv_working_column_collision_guard(spark, tmp_path):
    path = str(tmp_path / "mor_clash")
    spark.range(10).selectExpr("id AS k", "'x' AS __src_file").write.parquet(
        path
    )
    with pytest.raises(ValueError, match="collide with the merge-on-read"):
        dv_delete_where(spark, path, "k < 5")


def test_dv_no_match_is_a_cheap_noop(spark, tmp_path):
    path = _flat(spark, tmp_path)
    assert dv_delete_where(spark, path, "k < 0").rows_matched == 0
    assert not has_deletion_vectors(spark, path)
    assert dv_update_where(
        spark, path, {"v": "0.0"}, "k < 0"
    ).rows_matched == 0
    assert not has_deletion_vectors(spark, path)
    # no-op left no appended files either
    assert len(m.list_data_files(spark, path)) == 4


def test_partial_materialize_never_leaves_store_unprotected(spark, tmp_path):
    """The pruned store is moved in BESIDE the old batch files before they
    are deleted — at no point is _dv absent while live tombstones exist.
    Verified by the end state (pruned entries correct) plus the ordering
    contract: the staged prune lands under _dv via _swap_staged, so the store
    dir itself is never deleted on the partial path."""
    path = _flat(spark, tmp_path, n=100, files=4)
    dv_delete_where(spark, path, "k < 25 OR k = 99")  # file0 fully dead
    st = materialize_deletes(spark, path, min_dead_ratio=0.9)
    assert st.files_rewritten == 1
    assert has_deletion_vectors(spark, path)
    assert dv_count(spark, path) == 1  # only the k=99 tombstone survives
    assert read_mor(spark, path).count() == 74


def test_dv_vacuum_honors_manifest_references(spark, tmp_path):
    """Retired DV batches survive vacuum while a manifest pins them and
    die once retention drops those versions — same rule as data files."""
    path = _flat(spark, tmp_path)
    versioning.enable_versioning(spark, path)           # v1
    dv_delete_where(spark, path, "k < 10")              # v2
    materialize_deletes(spark, path)                    # v3 (batches retire)
    assert versioning.vacuum(spark, path) == 0          # v2 pins them
    assert versioning.read_version(spark, path, 2).count() == 90
    # drop v1..v2, checkpoint v3, then vacuum reclaims the orphans
    assert versioning.drop_versions_before(spark, path, keep_last=1) == 2
    assert versioning.vacuum(spark, path) > 0
    assert versioning.read_version(
        spark, path
    ).count() == 90  # latest unaffected
    with pytest.raises(FileNotFoundError):
        versioning.read_version(spark, path, 2)


def test_dv_merge_into_full_matrix(spark, tmp_path):
    """MOR MERGE (r9): matched-update = tombstone + append copy,
    matched-delete = tombstone, unmatched = append — zero file rewrites,
    clause semantics identical to the COW merge_into."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    path = _flat(spark, tmp_path)
    files0 = set(m.list_data_files(spark, path))
    src = spark.createDataFrame(
        [(1, "U"), (2, "D"), (200, "I")], "k long, op string"
    )
    st = dv_merge_into(
        spark, path, src, on=["k"],
        matched_set={"v": "CASE WHEN src_op = 'U' THEN v + 1000 ELSE v END"},
        matched_delete="src_op = 'D'",
        insert_values={"v": "-1.0"},
        insert_condition="src_op = 'I'",
    )
    assert st.files_rewritten == 0
    assert st.rows_matched == 2 and st.rows_inserted == 1
    # originals untouched on disk — the tombstones are the mutation
    assert files0 <= set(m.list_data_files(spark, path))
    out = read_mor(spark, path)
    assert out.count() == 100  # -1 delete +1 insert
    assert out.where("k = 1").first()["v"] == 1 % 7 + 1000.0
    assert out.where("k = 2").count() == 0
    assert out.where("k = 200").first()["v"] == -1.0
    # self-re-match guard: the appended copy still matches k=1 but is
    # not tombstoned by its own statement
    assert dv_count(spark, path) == 2


def test_dv_merge_into_guards(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    path = _flat(spark, tmp_path)
    dup = spark.createDataFrame([(1, 0.0), (1, 1.0)], "k long, v double")
    with pytest.raises(ValueError, match="duplicate join keys"):
        dv_merge_into(spark, path, dup, on=["k"], matched_set={"v": "src_v"})
    bad = spark.createDataFrame([(1, 0.0)], "k long, v double")
    with pytest.raises(ValueError, match="unknown columns"):
        dv_merge_into(
            spark, path, bad, on=["k"], matched_set={"nope": "1"}
        )
    # constraints gate the staged output before visibility
    constraints.add_constraint(spark, path, "v_nonneg", "v >= 0")
    neg = spark.createDataFrame([(1, -5.0)], "k long, v double")
    files0 = set(m.list_data_files(spark, path))
    with pytest.raises(constraints.ConstraintViolation, match="v_nonneg"):
        dv_merge_into(
            spark, path, neg, on=["k"], matched_set={"v": "src_v"}
        )
    assert set(m.list_data_files(spark, path)) == files0
    assert not has_deletion_vectors(spark, path)
    # a source-only column is EXPRESSION scope, never written (the COW
    # rule); the target schema is unchanged by the merge
    evo = spark.createDataFrame([(1, "x")], "k long, extra string")
    dv_merge_into(
        spark, path, evo, on=["k"],
        matched_set={"grp": "CASE WHEN src_extra = 'x' THEN 9 ELSE grp END"},
    )
    out = read_mor(spark, path)
    assert "extra" not in out.columns
    assert out.where("k = 1").first()["grp"] == 9


def test_dv_merge_into_partitioned(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    path = str(tmp_path / "mor_merge_part")
    (
        spark.range(40)
        .selectExpr("id AS k", "id % 2 AS side", "CAST(id AS DOUBLE) AS v")
        .write.partitionBy("side")
        .parquet(path)
    )
    src = spark.createDataFrame(
        [(3, 1, 333.0), (100, 1, 100.0)], "k long, side long, v double"
    )
    st = dv_merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"}
    )
    assert st.files_rewritten == 0
    out = read_mor(spark, path)
    assert out.count() == 41
    assert out.where("k = 3").first()["v"] == 333.0
    ins = out.where("k = 100").first()
    assert ins["v"] == 100.0 and ins["side"] == 1  # routed to side=1 dir
    with pytest.raises(ValueError, match="partition columns"):
        dv_merge_into(spark, path, src, on=["k"], matched_set={"side": "0"})
    # materialize folds the whole thing back to a plain table
    materialize_deletes(spark, path)
    back = spark.read.parquet(path)
    assert back.count() == 41 and back.where("k = 3").first()["v"] == 333.0


def test_dv_merge_execute_dml_and_streaming_upsert(spark, tmp_path):
    """The textual MERGE routes through dv_merge_into under mor=True, and
    the streaming CDC applier maintains a table merge-on-read — the
    workload the verb exists for (per-micro-batch O(k) writes)."""
    from sql_query_optimizer_cpp_spark.streaming.upsert import (
        apply_changes_batch,
    )

    path = _flat(spark, tmp_path)
    src_path = str(tmp_path / "merge_src")
    spark.createDataFrame(
        [(5, 555.0), (300, 3.0)], "k long, v double"
    ).write.parquet(src_path)
    st = dml_sql.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT",
        {"t": path, "s": src_path},
        mor=True,
    )
    assert st.files_rewritten == 0
    assert st.rows_matched == 1 and st.rows_inserted == 1
    out = read_mor(spark, path)
    assert out.where("k = 5").first()["v"] == 555.0
    assert out.where("k = 300").count() == 1
    st = dml_sql.execute_dml(
        spark, "DELETE FROM t WHERE k = 1", {"t": path},
        mor=True, optimistic=True,
    )  # r10: the OCC deletion-vector route
    assert st.rows_matched == 1 and st.files_rewritten == 0
    # CDC applier: one micro-batch with update, delete, insert, and a
    # stale change that the ts guard must ignore
    tgt = str(tmp_path / "cdc_tgt")
    spark.createDataFrame(
        [(1, 10.0, 100), (2, 20.0, 100), (3, 30.0, 100)],
        "k long, v double, ts long",
    ).write.parquet(tgt)
    batch = spark.createDataFrame(
        [
            (1, 11.0, 200, "U"),   # newer update applies
            (2, 0.0, 50, "U"),     # STALE update ignored
            (3, 0.0, 200, "D"),    # delete
            (4, 40.0, 200, "I"),   # insert
        ],
        "k long, v double, ts long, op string",
    )
    apply_changes_batch(spark, batch, tgt, on=["k"], mor=True)
    got = {
        r["k"]: (r["v"], r["ts"]) for r in read_mor(spark, tgt).collect()
    }
    assert got == {1: (11.0, 200), 2: (20.0, 100), 4: (40.0, 200)}
    assert has_deletion_vectors(spark, tgt)  # no rewrite happened


def test_dv_update_only_tombstoned_matches_is_noop(spark, tmp_path):
    """An UPDATE whose only BASE matches are already-tombstoned rows must
    be a complete no-op: no empty copy file, no tombstones, and on a
    versioned table NO version committed (found by the r9 randomized
    sweep: the empty staging used to move in and commit a junk version)."""
    path = _flat(spark, tmp_path)
    versioning.enable_versioning(spark, path)           # v1
    assert dv_delete_where(spark, path, "k >= 90").rows_matched == 10  # v2
    files = set(m.list_data_files(spark, path))
    # k >= 95 rows exist in the base files but are all tombstoned
    assert dv_update_where(
        spark, path, {"v": "0.0"}, "k >= 95"
    ).rows_matched == 0
    assert set(m.list_data_files(spark, path)) == files  # no empty file
    assert dv_count(spark, path) == 10                   # no new tombstones
    assert versioning.table_versions(spark, path) == [1, 2]  # no junk commit


def test_dv_commits_across_schema_evolution(spark, tmp_path):
    """One versioned history interleaving an evolve_schema COW merge and
    DV commits: time travel reads pre-evolution versions without the new
    column, post-evolution DV versions NULL-backfill it, and CDC across
    the dv commit aligns the evolved schema."""
    path = str(tmp_path / "mor_evo")
    spark.range(30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).repartitionByRange(2, "k").write.parquet(path)
    versioning.enable_versioning(spark, path)                    # v1
    src = spark.createDataFrame([(3, "hot")], "k long, tag string")
    m.merge_into(
        spark, path, src, on=["k"], matched_set={"tag": "src_tag"},
        evolve_schema=True,
    )                                                            # v2
    assert dv_delete_where(spark, path, "k >= 20").rows_matched == 10  # v3
    assert dv_update_where(
        spark, path, {"tag": "'cold'"}, "k = 4"
    ).rows_matched == 1                                          # v4
    assert versioning.table_versions(spark, path) == [1, 2, 3, 4]
    assert "tag" not in versioning.read_version(spark, path, 1).columns
    v2 = versioning.read_version(spark, path, 2)
    assert v2.where("tag = 'hot'").count() == 1
    assert v2.where("tag IS NULL").count() == 29                 # backfilled
    v4 = versioning.read_version(spark, path, 4)
    assert v4.count() == 20
    assert v4.where("k = 4").first()["tag"] == "cold"
    # CDC across the dv-delete commit: the tombstoned rows live only in
    # files that PREDATE the evolution, and read_changes' documented
    # O(touched) contract derives its output schema from the touched
    # files (never an all-footer crawl) — so the delete images carry the
    # pre-evolution columns; their tag was NULL-backfilled anyway
    ch = versioning.read_changes(spark, path, 2, 3)
    assert set(ch.columns) == {"_change_type", "k", "v"}
    assert ch.count() == 10
    assert ch.where("_change_type = 'delete'").count() == 10
    # a range whose touched files span the evolution DOES align + backfill
    wide = versioning.read_changes(spark, path, 1, 4)
    assert set(wide.columns) == {"_change_type", "k", "v", "tag"}
    # and read_mor time-handles the mixed files (evolved + original)
    assert read_mor(spark, path).count() == 20


def test_read_changes_align_schema_opt_in(spark, tmp_path):
    """align_schema=True pins the CDC output to the to-version's full
    schema (NULL-backfilling columns the touched files predate) — the
    stable shape a downstream applier wants, at the documented cost of
    one footer-union job."""
    path = str(tmp_path / "mor_align")
    spark.range(30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).repartitionByRange(2, "k").write.parquet(path)
    versioning.enable_versioning(spark, path)                    # v1
    src = spark.createDataFrame([(3, "hot")], "k long, tag string")
    m.merge_into(
        spark, path, src, on=["k"], matched_set={"tag": "src_tag"},
        evolve_schema=True,
    )                                                            # v2
    dv_delete_where(spark, path, "k >= 20")                      # v3
    ch = versioning.read_changes(spark, path, 2, 3, align_schema=True)
    assert set(ch.columns) == {"_change_type", "k", "v", "tag"}
    assert ch.count() == 10
    assert ch.where("tag IS NOT NULL").count() == 0  # backfilled NULLs
    # values identical to the default-shape read on the shared columns
    narrow = versioning.read_changes(spark, path, 2, 3)
    assert ch.select(*narrow.columns).exceptAll(narrow).count() == 0


def test_dv_merge_skip_unchanged_idempotent_replay(spark, tmp_path):
    """skip_unchanged=True makes an at-least-once replay a true no-op:
    no tombstones, no copies, no version commit (the CDC applier's
    write-amplification fix); without it the same replay rewrites every
    matched row."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    path = _flat(spark, tmp_path)
    versioning.enable_versioning(spark, path)                    # v1
    src = spark.createDataFrame(
        [(1, 500.0), (2, 2 % 7 * 1.0)], "k long, v double"
    )  # k=1 really changes, k=2 assigns its current value
    st = dv_merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"},
        skip_unchanged=True,
    )                                                            # v2
    assert st.rows_matched == 1                    # k=2 skipped
    assert dv_count(spark, path) == 1
    assert versioning.table_versions(spark, path) == [1, 2]
    out = read_mor(spark, path)
    assert out.where("k = 1").first()["v"] == 500.0
    assert out.where("k = 2").first()["v"] == 2 % 7 * 1.0
    # replay the SAME batch: now nothing differs -> zero writes, zero
    # commits, table byte-identical
    src2 = spark.createDataFrame(
        [(1, 500.0), (2, 2 % 7 * 1.0)], "k long, v double"
    )
    files0 = set(m.list_data_files(spark, path))
    st2 = dv_merge_into(
        spark, path, src2, on=["k"], matched_set={"v": "src_v"},
        skip_unchanged=True,
    )
    assert st2.rows_matched == 0 and st2.rows_inserted == 0
    assert dv_count(spark, path) == 1              # unchanged
    assert versioning.table_versions(spark, path) == [1, 2]  # no no-op commit
    assert set(m.list_data_files(spark, path)) == files0
    # NULL-safety: an assignment flipping NULL<->value counts as a change
    src3 = spark.createDataFrame([(10, 1)], "k long, grp long")
    st3 = dv_merge_into(
        spark, path, src3, on=["k"], matched_set={"grp": "src_grp"},
        skip_unchanged=True,
    )  # grp IS NULL at k=10 (k % 10 == 0) -> real change
    assert st3.rows_matched == 1
    assert read_mor(spark, path).where("k = 10").first()["grp"] == 1


def test_streaming_mor_applier_replay_commits_nothing(spark, tmp_path):
    """The mor=True CDC applier passes skip_unchanged: re-applying a
    batch whose ts guard resolves every assignment to the current value
    commits no version and appends no tombstones."""
    from sql_query_optimizer_cpp_spark.streaming.upsert import (
        apply_changes_batch,
    )

    path = str(tmp_path / "mor_applier_replay")
    spark.createDataFrame(
        [(1, 10.0, 100), (2, 20.0, 100)], "k long, v double, ts long"
    ).coalesce(1).write.parquet(path)
    versioning.enable_versioning(spark, path)                    # v1
    batch = spark.createDataFrame(
        [(1, 11.0, 200, "U"), (3, 30.0, 200, "I")],
        "k long, v double, ts long, op string",
    )
    apply_changes_batch(spark, batch, path, on=["k"], mor=True)  # v2
    assert versioning.table_versions(spark, path) == [1, 2]
    assert read_mor(spark, path).count() == 3
    dv0 = dv_count(spark, path)
    # at-least-once redelivery of the SAME batch: the update leg assigns
    # every column its current value (newer-ts guard passes but values
    # equal), the insert leg matches now -> update leg again no-op
    apply_changes_batch(spark, batch, path, on=["k"], mor=True)
    assert versioning.table_versions(spark, path) == [1, 2]  # no new version
    assert dv_count(spark, path) == dv0              # no new tombstones
    out = read_mor(spark, path)
    assert out.count() == 3
    assert out.where("k = 1").first()["v"] == 11.0
    # a genuinely newer event still lands
    newer = spark.createDataFrame(
        [(1, 12.0, 300, "U")], "k long, v double, ts long, op string"
    )
    apply_changes_batch(spark, newer, path, on=["k"], mor=True)
    assert versioning.table_versions(spark, path) == [1, 2, 3]
    assert read_mor(spark, path).where("k = 1").first()["v"] == 12.0


@pytest.mark.parametrize("batches", ["new", "new_and_gone"])
def test_read_changes_max_touched_files_fallback(spark, tmp_path, batches):
    """The DV entry-diff's driver-side file-name collect is bounded:
    past max_touched_files the plan falls back to scanning every common
    file (semi-join filters distributively) — identical result.  The
    ``new_and_gone`` range has a tombstone batch appear (deletes) AND
    one disappear through a RESTORE (un-tombstoned rows: inserts), so
    the one collect covers both diff directions."""
    path = _flat(spark, tmp_path)
    versioning.enable_versioning(spark, path)                    # v1
    dv_delete_where(spark, path, "k IN (5, 15, 25)")             # v2
    lo, hi, expect = 1, 2, {("delete", 5), ("delete", 15), ("delete", 25)}
    if batches == "new_and_gone":
        versioning.restore_version(spark, path, 1)               # v3
        dv_delete_where(spark, path, "k IN (40, 70)")            # v4
        lo, hi = 2, 4
        expect = {("insert", 5), ("insert", 15), ("insert", 25),
                  ("delete", 40), ("delete", 70)}
    default = versioning.read_changes(spark, path, lo, hi).orderBy("k")
    fallback = versioning.read_changes(
        spark, path, lo, hi, max_touched_files=0
    ).orderBy("k")
    assert [r.asDict() for r in default.collect()] == [
        r.asDict() for r in fallback.collect()
    ]
    assert {(r["_change_type"], r["k"]) for r in default.collect()} == expect
    assert default.count() == len(expect)


def test_occ_dv_delete_disjoint_files_first_attempt(spark, tmp_path):
    """Two concurrent OCC deletion-vector deletes on DISJOINT files both
    commit without a retry: DV batches are append-only, so the conflict
    unit is the referenced file, not the table."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    path = _flat(spark, tmp_path)  # 4 files range-clustered on k
    versioning.enable_versioning(spark, path)                     # v1
    attempts: dict[str, list[int]] = {"a": [], "b": []}
    results: dict[str, int] = {}
    errs: list[Exception] = []
    import threading

    barrier = threading.Barrier(2, timeout=60)

    def writer(name: str, cond: str):
        def after_stage(attempt):
            attempts[name].append(attempt)
            if attempt == 1:
                barrier.wait()  # both staged before either commits

        try:
            results[name] = dv_delete_where(
                spark, path, cond, _after_stage=after_stage,
                optimistic=True
            ).rows_matched
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    # k<10 lives in file 0; k>=90 lives in file 3 (range-clustered)
    t1 = threading.Thread(target=writer, args=("a", "k < 10"))
    t2 = threading.Thread(target=writer, args=("b", "k >= 90"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert results == {"a": 10, "b": 10}
    assert attempts["a"] == [1] and attempts["b"] == [1]  # no retries
    assert dv_count(spark, path) == 20
    assert read_mor(spark, path).count() == 80
    # both commits are first-class versions
    assert versioning.table_versions(spark, path) == [1, 2, 3]


def test_occ_dv_delete_same_file_conflict_retries_exact(spark, tmp_path):
    """Overlapping writers: the loser re-derives against the winner's
    tombstones, so the returned counts stay exact (no double-count) and
    the final state equals the serial execution."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    path = _flat(spark, tmp_path)
    import threading

    started = threading.Event()
    done = threading.Event()
    results: dict[str, int] = {}
    attempts_b: list[int] = []

    def winner():
        results["a"] = dv_delete_where(
            spark, path, "k < 10", optimistic=True
        ).rows_matched
        done.set()

    def after_stage_b(attempt):
        attempts_b.append(attempt)
        if attempt == 1:
            started.set()
            assert done.wait(60)  # winner commits k<10 first

    def loser():
        results["b"] = dv_delete_where(
            spark, path, "k < 15", _after_stage=after_stage_b,
            optimistic=True
        ).rows_matched

    tb = threading.Thread(target=loser)
    tb.start()
    assert started.wait(60)
    ta = threading.Thread(target=winner)
    ta.start(); ta.join(); tb.join()
    assert results["a"] == 10
    assert results["b"] == 5          # re-derived: only k in [10, 15)
    assert attempts_b == [1, 2]       # exactly one retry
    assert dv_count(spark, path) == 15
    assert read_mor(spark, path).count() == 85


def test_parallel_mor_appliers_serialize(spark, tmp_path):
    """Two MOR CDC appliers (disjoint key shards) running in parallel
    both land: lock_wait_seconds turns the second's refuse into a wait."""
    from sql_query_optimizer_cpp_spark.streaming.upsert import (
        apply_changes_batch,
    )

    path = str(tmp_path / "mor_two_appliers")
    spark.createDataFrame(
        [(1, 10.0, 100), (2, 20.0, 100)], "k long, v double, ts long"
    ).coalesce(1).write.parquet(path)
    import threading

    errs: list[Exception] = []

    def apply(rows):
        try:
            batch = spark.createDataFrame(
                rows, "k long, v double, ts long, op string"
            )
            apply_changes_batch(
                spark, batch, path, on=["k"], mor=True,
                lock_wait_seconds=60.0,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=apply, args=([(1, 11.0, 200, "U")],))
    t2 = threading.Thread(target=apply, args=([(3, 30.0, 200, "I")],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    out = read_mor(spark, path)
    assert out.count() == 3
    assert out.where("k = 1").first()["v"] == 11.0
    assert out.where("k = 3").first()["v"] == 30.0


def test_occ_dv_delete_replaced_batches_conflict_and_repair_prefix(
    spark, tmp_path
):
    """(review r10) A concurrent materialize that replaces DV batch
    files mid-flight is a CONFLICT (retry), not a FileNotFound crash;
    and the OCC staging dir uses the __cow_ prefix so repair_table's
    crash-debris sweep inventories it."""
    from sql_query_optimizer_cpp_spark.operators.mor import (
        materialize_deletes,
        dv_delete_where,
    )

    path = _flat(spark, tmp_path)
    # pre-existing tombstones on a DIFFERENT file (k>=75 lives in the
    # last range file; the occ delete below targets k<10, file 0)
    dv_delete_where(spark, path, "k >= 90")
    attempts: list[int] = []

    def after_stage(attempt):
        attempts.append(attempt)
        if attempt == 1:
            # replaces/retires every DV batch + rewrites tombstoned file
            materialize_deletes(spark, path)

    n = dv_delete_where(
        spark, path, "k < 10", _after_stage=after_stage, optimistic=True
    ).rows_matched
    assert n == 10
    assert attempts == [1, 2]  # one conflict, then clean commit
    assert read_mor(spark, path).count() == 80
    # crash-sim: an abandoned OCC-DV staging dir is repair-visible
    import pyspark.sql.functions as F  # noqa: F401
    from sql_query_optimizer_cpp_spark.operators.mutate import repair_table

    debris = path + "__cow_dv_deadbeef"
    spark.range(1).selectExpr("CAST('x' AS STRING) AS src_file",
                              "id AS row_idx").write.parquet(debris)
    rep = repair_table(spark, path)
    assert any("__cow_dv_deadbeef" in d for d in rep.staging_dirs), (
        rep.staging_dirs
    )
    repair_table(spark, path, remove=True)
    rep2 = repair_table(spark, path)
    assert not rep2.staging_dirs


def test_occ_dv_update_semantics_match_plain(spark, tmp_path):
    """dv_update_where(optimistic=True) is the locked verb with a different
    commit protocol: identical final state, count, and version commit on an
    uncontended table (flat AND hive-partitioned)."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_update_where

    path_a = _flat(spark, tmp_path / "a")
    path_b = _flat(spark, tmp_path / "b")
    versioning.enable_versioning(spark, path_b)
    n_plain = dv_update_where(
        spark, path_a, {"v": "v * 10"}, "k < 7"
    ).rows_matched
    n_occ = dv_update_where(
        spark, path_b, {"v": "v * 10"}, "k < 7", optimistic=True
    ).rows_matched
    assert n_plain == n_occ == 7
    rows_a = sorted(map(tuple, read_mor(spark, path_a).collect()))
    rows_b = sorted(map(tuple, read_mor(spark, path_b).collect()))
    assert rows_a == rows_b
    assert versioning.table_versions(spark, path_b) == [1, 2]  # one commit
    # no-match: nothing staged, nothing committed, zero returned
    assert dv_update_where(
        spark, path_b, {"v": "0.0"}, "k < 0", optimistic=True
    ).rows_matched == 0
    assert versioning.table_versions(spark, path_b) == [1, 2]
    # already-tombstoned rows never re-match (count exactness)
    dv_delete_where(spark, path_b, "k = 8")
    assert dv_update_where(
        spark, path_b, {"v": "0.0"}, "k = 8", optimistic=True
    ).rows_matched == 0
    # partitioned: copies route to their key=value dirs; partition
    # assignment refused (the COW rule)
    ppath = str(tmp_path / "p")
    (
        spark.range(40)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
                    "CAST(id % 4 AS INT) AS part")
        .write.partitionBy("part")
        .parquet(ppath)
    )
    assert dv_update_where(
        spark, ppath, {"v": "v + 0.5"}, "k < 8", optimistic=True
    ).rows_matched == 8
    out = read_mor(spark, ppath)
    assert out.count() == 40 and out.where("v = 3.5").count() == 1
    with pytest.raises(ValueError, match="partition columns"):
        dv_update_where(spark, ppath, {"part": "0"}, "k = 1", optimistic=True)


def test_occ_dv_update_disjoint_files_first_attempt(spark, tmp_path):
    """Two concurrent OCC DV updates on DISJOINT files both commit
    without a retry — the file-granular conflict rule carries over from
    the delete verb."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_update_where

    path = _flat(spark, tmp_path)  # 4 files range-clustered on k
    attempts: dict[str, list[int]] = {"a": [], "b": []}
    results: dict[str, int] = {}
    errs: list[Exception] = []
    import threading

    barrier = threading.Barrier(2, timeout=60)

    def writer(name: str, cond: str, val: str):
        def after_stage(attempt):
            attempts[name].append(attempt)
            if attempt == 1:
                barrier.wait()  # both staged before either commits

        try:
            results[name] = dv_update_where(
                spark, path, {"v": val}, cond, _after_stage=after_stage,
                optimistic=True
            ).rows_matched
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=writer, args=("a", "k < 10", "-1.0"))
    t2 = threading.Thread(target=writer, args=("b", "k >= 90", "-2.0"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert results == {"a": 10, "b": 10}
    assert attempts["a"] == [1] and attempts["b"] == [1]  # no retries
    out = read_mor(spark, path)
    assert out.count() == 100
    assert out.where("v = -1.0").count() == 10
    assert out.where("v = -2.0").count() == 10


def test_occ_dv_update_same_file_conflict_rederives(spark, tmp_path):
    """Overlapping update-vs-delete writers: the loser re-derives against
    the winner's tombstones, so only still-live rows update and the
    count stays exact."""
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        dv_update_where,
    )

    path = _flat(spark, tmp_path)
    import threading

    started = threading.Event()
    done = threading.Event()
    results: dict[str, int] = {}
    attempts_b: list[int] = []

    def winner():
        results["a"] = dv_delete_where(
            spark, path, "k < 10", optimistic=True
        ).rows_matched
        done.set()

    def after_stage_b(attempt):
        attempts_b.append(attempt)
        if attempt == 1:
            started.set()
            assert done.wait(60)  # winner's delete commits first

    def loser():
        results["b"] = dv_update_where(
            spark, path, {"v": "-9.0"}, "k < 15",
            _after_stage=after_stage_b,
            optimistic=True,
        ).rows_matched

    tb = threading.Thread(target=loser)
    tb.start()
    assert started.wait(60)
    ta = threading.Thread(target=winner)
    ta.start(); ta.join(); tb.join()
    assert results["a"] == 10
    assert results["b"] == 5          # re-derived: only k in [10, 15)
    assert attempts_b == [1, 2]       # exactly one retry
    out = read_mor(spark, path)
    assert out.count() == 90
    assert out.where("v = -9.0").count() == 5


def test_occ_dv_merge_matches_plain(spark, tmp_path):
    """dv_merge_into(optimistic=True) is the locked verb with a different
    commit protocol: identical state, stats, and zero file rewrites."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    src = spark.range(95, 105).selectExpr(
        "id AS k", "CAST(-3.0 AS DOUBLE) AS v",
        "CAST(id % 3 AS BIGINT) AS grp",
    )
    path_a = _flat(spark, tmp_path / "a")
    path_b = _flat(spark, tmp_path / "b")
    st_a = dv_merge_into(
        spark, path_a, src, on=["k"], matched_set={"v": "src_v"}
    )
    st_b = dv_merge_into(
        spark, path_b, src, on=["k"], matched_set={"v": "src_v"},
        optimistic=True
    )
    assert (st_a.rows_matched, st_a.rows_inserted) == (5, 5)
    assert (st_b.rows_matched, st_b.rows_inserted) == (5, 5)
    assert st_b.files_rewritten == 0
    rows_a = sorted(map(tuple, read_mor(spark, path_a).collect()))
    rows_b = sorted(map(tuple, read_mor(spark, path_b).collect()))
    assert rows_a == rows_b
    # duplicate-key source still refused up front
    dup = src.union(src)
    with pytest.raises(ValueError, match="duplicate join keys"):
        dv_merge_into(spark, path_b, dup, on=["k"], optimistic=True)


def test_occ_dv_merge_partitioned_matches_plain(spark, tmp_path):
    """Optimistic dv_merge_into on a HIVE-PARTITIONED table: copies and
    inserts route to their key=value dirs, results equal the locked
    merge, and partition-column assignment is refused (the COW rule)."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    def mk(leaf):
        p = str(tmp_path / leaf)
        (
            spark.range(40)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
                        "CAST(id % 4 AS INT) AS part")
            .write.partitionBy("part")
            .parquet(p)
        )
        return p

    pa, pb = mk("pa"), mk("pb")
    src = spark.range(35, 45).selectExpr(
        "id AS k", "CAST(-3.0 AS DOUBLE) AS v", "CAST(id % 4 AS INT) AS part"
    )
    st_a = dv_merge_into(spark, pa, src, on=["k"], matched_set={"v": "src_v"})
    st_b = dv_merge_into(
        spark, pb, src, on=["k"], matched_set={"v": "src_v"},
        optimistic=True
    )
    assert (st_a.rows_matched, st_a.rows_inserted) == (5, 5)
    assert (st_b.rows_matched, st_b.rows_inserted) == (5, 5)
    assert st_b.files_rewritten == 0
    rows_a = sorted(map(tuple, read_mor(spark, pa).collect()))
    rows_b = sorted(map(tuple, read_mor(spark, pb).collect()))
    assert rows_a == rows_b
    # inserted copies landed in their hive dirs, not a flat dump
    assert read_mor(spark, pb).where("k = 44 AND part = 0").count() == 1
    with pytest.raises(ValueError, match="partition columns"):
        dv_merge_into(
            spark, pb, src, on=["k"], matched_set={"part": "0"},
            optimistic=True
        )


def test_occ_dv_merge_insert_only_ignores_foreign_churn(spark, tmp_path):
    """A pure-insert merge references no target file, so ANY concurrent
    DV churn is non-conflicting: first-attempt commit (the
    write-serializable contract)."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    path = _flat(spark, tmp_path)
    attempts: list[int] = []

    def after_stage(attempt):
        attempts.append(attempt)
        if attempt == 1:
            # a concurrent delete lands between stage and commit
            dv_delete_where(spark, path, "k >= 90")

    src = spark.range(200, 205).selectExpr(
        "id AS k", "CAST(1.5 AS DOUBLE) AS v",
        "CAST(id % 3 AS BIGINT) AS grp",
    )
    st = dv_merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"},
        _after_stage=after_stage,
        optimistic=True,
    )
    assert attempts == [1]  # no retry: tombstone set is empty
    assert st.rows_matched == 0 and st.rows_inserted == 5
    out = read_mor(spark, path)
    assert out.count() == 95  # 100 - 10 deleted + 5 inserted
    assert out.where("k >= 200").count() == 5


def test_occ_dv_merge_same_file_conflict_rederives(spark, tmp_path):
    """A merge whose matched files are tombstoned concurrently re-derives:
    the vanished row flows to the (disabled) insert leg, not to a
    double-update."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into

    path = _flat(spark, tmp_path)
    attempts: list[int] = []

    def after_stage(attempt):
        attempts.append(attempt)
        if attempt == 1:
            dv_delete_where(spark, path, "k = 3")  # same file as k<15

    src = spark.range(0, 15).selectExpr(
        "id AS k", "CAST(-5.0 AS DOUBLE) AS v",
        "CAST(id % 3 AS BIGINT) AS grp",
    )
    st = dv_merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"},
        insert_condition="false", _after_stage=after_stage,
        optimistic=True,
    )
    assert attempts == [1, 2]         # one conflict, then clean commit
    assert st.rows_matched == 14      # k=3 no longer live
    assert st.rows_inserted == 0      # insert leg disabled: no resurrect
    out = read_mor(spark, path)
    assert out.count() == 99
    assert out.where("v = -5.0").count() == 14


def test_storage_report_ignores_duplicate_and_stale_tombstones(
    spark, tmp_path
):
    """(review r10) table_storage_report counts what read_mor actually
    removes: DISTINCT entries on LIVE files — duplicated (at-least-once
    crash window) and stale (replaced-file) tombstones don't double-
    bill the dead fraction."""
    from pyspark.sql import functions as F
    from sql_query_optimizer_cpp_spark.plans.cost import (
        table_storage_report,
    )

    path = _flat(spark, tmp_path)
    dv_delete_where(spark, path, "k < 5")          # 5 real tombstones
    dv_root = f"{path}/_dv"
    real = spark.read.parquet(dv_root)
    # duplicate every entry (legal at-least-once state) + stale entries
    # keyed to a file name that no longer exists
    real.write.mode("append").parquet(dv_root)
    spark.range(7).select(
        F.lit("part-replaced-gone.parquet").alias("src_file"),
        F.col("id").alias("row_idx"),
    ).write.mode("append").parquet(dv_root)
    assert read_mor(spark, path).count() == 95     # read path: exact
    rep = table_storage_report(spark, path)
    assert rep.dead_rows == 5                      # not 17
    assert rep.rows == 95
    assert all("gone" not in f for f, _ in rep.top_dead_files)


def test_execute_dml_mor_optimistic_verbs(spark, tmp_path):
    """mor+optimistic composes for all three verbs (r11): DELETE, UPDATE
    and MERGE route through the optimistic stage-outside-the-lock
    protocol, zero file rewrites throughout."""
    from sql_query_optimizer_cpp_spark.operators.dml_sql import execute_dml

    path = _flat(spark, tmp_path)
    st = execute_dml(
        spark, "DELETE FROM t WHERE k < 10", {"t": path},
        mor=True, optimistic=True,
    )
    assert st.rows_matched == 10
    assert has_deletion_vectors(spark, path)
    assert read_mor(spark, path).count() == 90
    st = execute_dml(
        spark, "UPDATE t SET v = -1.0 WHERE k >= 95", {"t": path},
        mor=True, optimistic=True,
    )
    assert st.rows_matched == 5 and st.files_rewritten == 0
    out = read_mor(spark, path)
    assert out.count() == 90 and out.where("v = -1.0").count() == 5
    # MERGE upsert: 4 existing keys re-valued, 2 new keys inserted
    spath = str(tmp_path / "occ_merge_src")
    spark.range(96, 102).selectExpr(
        "id AS k", "CAST(-7.0 AS DOUBLE) AS v",
        "CAST(id % 3 AS BIGINT) AS grp",
    ).write.parquet(spath)
    st = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT",
        {"t": path, "s": spath},
        mor=True, optimistic=True,
    )
    assert st.rows_matched == 4 and st.rows_inserted == 2
    assert st.files_rewritten == 0
    out = read_mor(spark, path)
    assert out.count() == 92
    assert out.where("v = -7.0").count() == 6
    assert out.where("v = -1.0").count() == 1  # k=95 kept the UPDATE


def test_materialize_rerun_drops_stale_vectors_and_commits(spark, tmp_path):
    """A materialize that crashed after swapping a file in leaves vectors
    keyed to the replaced name.  The rerun rewrites nothing, yet it must
    drop that store (the COW verbs refuse a table with vectors) and
    commit the change as a version."""
    import os
    import shutil

    path = _flat(spark, tmp_path)
    versioning.enable_versioning(spark, path)                   # v1
    assert dv_delete_where(spark, path, "k < 5").rows_matched == 5  # v2
    # the crashed run's swap: the tombstoned file's rewrite moved in,
    # the original retired
    (old,) = {
        r["src_file"] for r in spark.read.parquet(f"{path}/_dv").collect()
    }
    spark.read.parquet(f"{path}/{old}").where("k >= 5").write.parquet(
        f"{path}__crashed"
    )
    for f in m.list_data_files(spark, f"{path}__crashed"):
        shutil.move(f.removeprefix("file:"), f"{path}/part-rewritten.parquet")
    shutil.rmtree(f"{path}__crashed")
    retired = f"{path}/_retired/crashed"
    os.makedirs(retired)
    shutil.move(f"{path}/{old}", f"{retired}/{old}")
    assert has_deletion_vectors(spark, path)
    st = materialize_deletes(spark, path)                       # v3
    assert st.files_rewritten == 1
    assert not has_deletion_vectors(spark, path)
    assert versioning.table_versions(spark, path) == [1, 2, 3]
    assert spark.read.parquet(path).count() == 95
    assert versioning.read_version(spark, path, 2).count() == 95
    assert m.delete_where(spark, path, "k = 50").rows_matched == 1
