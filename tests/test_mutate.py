"""Copy-on-write DML (operators/mutate.py): executed UPDATE/DELETE/MERGE.

The reference parses these verbs and stops (engine/src/parser.cpp:232-296);
here they execute, so the tests assert the two properties that make COW
DML trustworthy at scale: results are exactly SQL-semantics, and ONLY the
files containing affected rows are rewritten (everything else is untouched
on disk, byte-for-byte the same file names).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_query_optimizer_cpp_spark.operators.mutate import (
    MutationStats,
    delete_where,
    list_data_files,
    merge_into,
    update_where,
)
from sql_query_optimizer_cpp_spark.operators.dml_sql import execute_dml


def _names(spark, path):
    return {os.path.basename(f) for f in list_data_files(spark, path)}


def _names_rec(spark, path):
    return set(list_data_files(spark, path, recursive=True))


@pytest.fixture()
def cow_table(spark, tmp_path):
    """Range-clustered 4-file table over k=0..399 (k DIV 100 per file)."""
    path = str(tmp_path / "cow")
    df = spark.range(400).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.when(F.col("id") % 50 == 0, None)
        .otherwise(F.concat(F.lit("row-"), F.col("id")))
        .alias("s"),
    )
    df.repartitionByRange(4, "k").sortWithinPartitions("k").write.parquet(path)
    return path


def test_delete_prunes_and_deletes(spark, cow_table):
    before = _names(spark, cow_table)
    assert len(before) == 4
    st = delete_where(spark, cow_table, "k >= 100 AND k < 120")
    assert st == MutationStats(files_total=4, files_rewritten=1, rows_matched=20)
    after = _names(spark, cow_table)
    # 3 untouched files still there under their ORIGINAL names; exactly one
    # replaced by a part-cow file
    assert len(before & after) == 3
    assert all(n.startswith("part-cow-") for n in after - before)
    back = spark.read.parquet(cow_table)
    assert back.count() == 380
    assert back.where("k >= 100 AND k < 120").count() == 0


def test_delete_null_predicate_keeps_row(spark, cow_table):
    # SQL three-valued logic: WHERE s LIKE ... is NULL for s IS NULL -> kept
    st = delete_where(spark, cow_table, "s NOT LIKE 'row-1%'")
    back = spark.read.parquet(cow_table)
    assert back.where("s IS NULL").count() == 8  # k in {0,50,...,350}
    kept = back.where("s IS NOT NULL").count()
    assert kept == back.count() - 8
    assert st.rows_matched + back.count() == 400


def test_delete_no_match_rewrites_nothing(spark, cow_table):
    before = _names(spark, cow_table)
    st = delete_where(spark, cow_table, "k < 0")
    assert st.files_rewritten == 0
    assert _names(spark, cow_table) == before


def test_update_preserves_schema_and_prunes(spark, cow_table):
    before_schema = spark.read.parquet(cow_table).schema
    st = update_where(
        spark, cow_table, {"v": "v + 100", "s": F.lit("hot")}, "k BETWEEN 200 AND 205"
    )
    assert st.files_rewritten == 1 and st.rows_matched == 6
    back = spark.read.parquet(cow_table)
    assert back.schema == before_schema  # no type drift in rewritten files
    hot = back.where("k BETWEEN 200 AND 205").collect()
    assert all(r["s"] == "hot" and r["v"] == (r["k"] % 7) + 100 for r in hot)
    assert back.where("s = 'hot'").count() == 6
    assert back.count() == 400


def test_update_unknown_column_raises(spark, cow_table):
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, cow_table, {"nope": "1"}, "k = 1")


def test_merge_upsert(spark, cow_table):
    source = spark.createDataFrame(
        [Row(k=10, delta=1000.0), Row(k=110, delta=2000.0), Row(k=999, delta=3000.0)]
    )
    st = merge_into(
        spark,
        cow_table,
        source,
        on=["k"],
        matched_set={"v": "v + src_delta"},
        insert_values={"s": F.lit("inserted"), "v": "src_delta"},
    )
    assert st.files_rewritten == 2  # k=10 file and k=110 file; other 2 untouched
    assert st.rows_matched == 2 and st.rows_inserted == 1
    back = spark.read.parquet(cow_table)
    assert back.count() == 401
    got = {r["k"]: r for r in back.where("k IN (10, 110, 999)").collect()}
    assert got[10]["v"] == (10 % 7) + 1000.0
    assert got[110]["v"] == (110 % 7) + 2000.0
    assert got[999]["v"] == 3000.0 and got[999]["s"] == "inserted"
    # non-matched neighbors untouched
    assert back.where("k = 11").first()["v"] == 11 % 7


def test_merge_duplicate_source_keys_refused(spark, cow_table):
    dup = spark.createDataFrame([Row(k=1, delta=1.0), Row(k=1, delta=2.0)])
    with pytest.raises(ValueError, match="duplicate join keys"):
        merge_into(spark, cow_table, dup, on=["k"], matched_set={"v": "src_delta"})


def test_execute_dml_update_and_delete(spark, cow_table):
    tables = {"t": cow_table}
    st = execute_dml(
        spark,
        "UPDATE t SET v = least(v, 1.0), s = concat('u-', s) WHERE k < 3",
        tables,
    )
    assert st.rows_matched == 3
    st = execute_dml(spark, "DELETE FROM t WHERE k >= 398", tables)
    assert st.rows_matched == 2
    back = spark.read.parquet(cow_table)
    assert back.count() == 398
    assert back.where("k = 1").first()["s"] == "u-row-1"
    with pytest.raises(ValueError, match="unknown table"):
        execute_dml(spark, "DELETE FROM nope WHERE 1=1", tables)
    with pytest.raises(ValueError, match="not an executable"):
        execute_dml(spark, "SELECT 1", tables)


def test_compact_binpacks_small_files_only(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mutate import compact

    path = str(tmp_path / "frag")
    # one big file + 8 tiny ones (the post-DML / post-streaming shape)
    spark.range(100_000).selectExpr("id AS k", "id * 1.5 AS v").coalesce(
        1
    ).write.parquet(path)
    spark.range(100_000, 100_800).selectExpr("id AS k", "id * 1.5 AS v").repartition(
        8
    ).write.mode("append").parquet(path)
    before = _names(spark, path)
    assert len(before) == 9
    # target sized so the one big (~1 MB) file is over the small threshold
    # and the 8 tiny appended files are under it
    st = compact(spark, path, target_bytes=400 * 1024)
    assert st.files_rewritten == 8 and st.rows_matched == 100_800 - 100_000
    after = _names(spark, path)
    # the big file survived untouched; the 8 tiny files became 1
    assert len(after) == 2
    assert before & after  # the big original is still there by name
    back = spark.read.parquet(path)
    assert back.count() == 100_800
    assert back.selectExpr("sum(k)").first()[0] == sum(range(100_800))


def test_compact_noop_when_nothing_small(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mutate import compact

    path = str(tmp_path / "tight")
    spark.range(100).coalesce(1).write.parquet(path)
    before = _names(spark, path)
    st = compact(spark, path, target_bytes=10)  # everything counts as big
    assert st.files_rewritten == 0
    assert _names(spark, path) == before


@pytest.fixture()
def part_table(spark, tmp_path):
    """Hive-partitioned table: p in {0,1,2}, 100 rows each, 2 files per
    partition dir."""
    path = str(tmp_path / "part")
    spark.range(300).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        (F.col("id") % 3).alias("p"),
    ).repartition(2).write.partitionBy("p").parquet(path)
    return path


def test_partitioned_delete_prunes_directories(spark, part_table):
    st = delete_where(spark, part_table, "p = 1 AND k < 110")
    # only partition p=1 is touched: 2 of 6 files rewritten
    assert st.files_total == 6 and st.files_rewritten == 2
    assert st.rows_matched == len([k for k in range(300) if k % 3 == 1 and k < 110])
    back = spark.read.parquet(part_table)
    assert back.count() == 300 - st.rows_matched
    assert back.where("p = 1 AND k < 110").count() == 0
    # sibling partitions untouched
    assert back.where("p = 0").count() == 100
    assert back.where("p = 2").count() == 100


def test_partitioned_update_and_partition_col_refused(spark, part_table):
    st = update_where(spark, part_table, {"v": "v + 1000"}, "p = 2 AND k >= 200")
    assert st.files_rewritten == 2
    back = spark.read.parquet(part_table)
    hot = back.where("p = 2 AND k >= 200")
    assert hot.count() == st.rows_matched
    assert all(r["v"] == r["k"] + 1000 for r in hot.collect())
    assert back.where("p = 2 AND k < 200 AND v <> CAST(k AS DOUBLE)").count() == 0
    # partition values are directory names; assigning one is a move
    with pytest.raises(ValueError, match="partition columns"):
        update_where(spark, part_table, {"p": "0"}, "k = 1")


def test_partitioned_snapshot_time_travel(spark, part_table):
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        create_snapshot,
        drop_snapshot,
        read_snapshot,
        vacuum,
    )

    assert create_snapshot(spark, part_table, "v1") == 6
    delete_where(spark, part_table, "p = 0", retain=True)
    assert spark.read.parquet(part_table).count() == 200
    old = read_snapshot(spark, part_table, "v1")
    # time travel reconstructs the partition column from retired paths too
    assert old.count() == 300
    assert old.where("p = 0").count() == 100
    drop_snapshot(spark, part_table, "v1")
    assert vacuum(spark, part_table) == 2  # the two retired p=0 files
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, part_table, "v1")


def test_partitioned_merge_upsert(spark, part_table):
    """MERGE over a hive-partitioned table: matched files swap inside
    their key=value dir, inserts land in the right dirs (including a NEW
    partition value), untouched partitions keep their files by name."""
    before = _names_rec(spark, part_table)
    src = spark.createDataFrame(
        [
            Row(k=3, delta=1000.0, p=0),    # matched (p=0 dir)
            Row(k=4, delta=2000.0, p=1),    # matched (p=1 dir)
            Row(k=900, delta=1.0, p=1),     # unmatched -> insert into p=1
            Row(k=901, delta=2.0, p=7),     # unmatched -> NEW partition p=7
        ]
    )
    st = merge_into(
        spark,
        part_table,
        src,
        on=["k"],
        matched_set={"v": "v + src_delta"},
    )
    assert st.rows_matched == 2 and st.rows_inserted == 2
    # one file rewritten in each of p=0 and p=1 (2 of 6), others untouched
    assert st.files_rewritten == 2
    back = spark.read.parquet(part_table)
    assert back.count() == 302
    assert back.where("k = 3").first()["v"] == 3 + 1000.0
    assert back.where("k = 4").first()["v"] == 4 + 2000.0
    assert back.where("k = 900").first()["p"] == 1
    assert back.where("k = 901").first()["p"] == 7
    # p=2 files untouched byte-for-byte (same names)
    after = _names_rec(spark, part_table)
    assert {f for f in before if "/p=2/" in f} <= after
    # partition-column assignment is a move, refused
    with pytest.raises(ValueError, match="partition columns"):
        merge_into(spark, part_table, src, on=["k"], matched_set={"p": "0"})


def test_partitioned_compact(spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mutate import compact

    path = str(tmp_path / "pfrag")
    # 3 partitions, 5 tiny files each (post-streaming-append shape)
    spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
    ).repartition(5).write.partitionBy("p").parquet(path)
    before = _names_rec(spark, part_table := path)
    assert len(before) == 15
    st = compact(spark, path, target_bytes=10 * 1024 * 1024)
    assert st.files_rewritten == 15 and st.rows_matched == 300
    after = _names_rec(spark, path)
    assert len(after) == 3  # one packed file per partition dir
    back = spark.read.parquet(path)
    assert back.count() == 300
    # partition values survived the per-directory pack
    assert back.where("p = (k % 3)").count() == 300


def test_merge_matched_delete_and_insert_condition(spark, cow_table):
    source = spark.createDataFrame(
        [
            Row(k=10, op="D", delta=0.0),    # matched tombstone -> delete
            Row(k=11, op="U", delta=500.0),  # matched update
            Row(k=998, op="D", delta=0.0),   # unmatched tombstone -> no-op
            Row(k=999, op="U", delta=900.0), # unmatched upsert -> insert
        ]
    )
    st = merge_into(
        spark,
        cow_table,
        source,
        on=["k"],
        matched_set={"v": "v + src_delta"},
        insert_values={"v": "src_delta", "s": F.lit("ins")},
        matched_delete="src_op = 'D'",
        insert_condition="src_op <> 'D'",
    )
    assert st.rows_matched == 2 and st.rows_inserted == 1
    back = spark.read.parquet(cow_table)
    assert back.where("k = 10").count() == 0          # deleted
    assert back.where("k = 998").count() == 0         # tombstone no-op
    assert back.where("k = 11").first()["v"] == (11 % 7) + 500.0
    assert back.where("k = 999").first()["s"] == "ins"
    assert back.count() == 400  # -1 delete +1 insert


def test_snapshot_time_travel_and_vacuum(spark, cow_table):
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        create_snapshot,
        drop_snapshot,
        list_snapshots,
        read_snapshot,
        vacuum,
    )

    n = create_snapshot(spark, cow_table, "v1")
    assert n == 4 and list_snapshots(spark, cow_table) == ["v1"]

    # retained DML: normal reads see the mutation, v1 still sees the past
    delete_where(spark, cow_table, "k >= 300", retain=True)
    update_where(spark, cow_table, {"v": "v + 1"}, "k < 100", retain=True)
    assert spark.read.parquet(cow_table).count() == 300
    old = read_snapshot(spark, cow_table, "v1")
    assert old.count() == 400
    assert old.where("k = 0").first()["v"] == 0.0  # pre-update value
    assert spark.read.parquet(cow_table).where("k = 0").first()["v"] == 1.0

    # vacuum keeps everything v1 still references
    assert vacuum(spark, cow_table) == 0
    assert read_snapshot(spark, cow_table, "v1").count() == 400

    # retire a version: second snapshot, drop v1, vacuum reclaims its files
    create_snapshot(spark, cow_table, "v2")
    drop_snapshot(spark, cow_table, "v1")
    reclaimed = vacuum(spark, cow_table)
    assert reclaimed >= 2  # the deleted k>=300 file + pre-update k<100 files
    with pytest.raises(FileNotFoundError, match="no snapshot named 'v1'"):
        read_snapshot(spark, cow_table, "v1").count()
    # v2 (current files only) unaffected
    assert read_snapshot(spark, cow_table, "v2").count() == 300


def test_retired_files_invisible_to_normal_reads(spark, cow_table):
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        create_snapshot,
    )

    create_snapshot(spark, cow_table, "base")
    delete_where(spark, cow_table, "k < 200", retain=True)
    # discovery must skip _retired and _snapshots entirely
    assert spark.read.parquet(cow_table).count() == 200
    assert set(
        r.k for r in spark.read.parquet(cow_table).select("k").collect()
    ) == set(range(200, 400))


def test_writer_lock_refuses_second_writer(spark, cow_table):
    import os as _os

    lock = _os.path.join(cow_table, "_cow.lock")
    open(lock, "w").write("held-by-someone-else")
    with pytest.raises(RuntimeError, match="another writer"):
        delete_where(spark, cow_table, "k = 1")
    # table untouched while locked
    assert spark.read.parquet(cow_table).count() == 400
    _os.remove(lock)
    st = delete_where(spark, cow_table, "k = 1")
    assert st.rows_matched == 1
    # lock released after a successful mutation
    assert not _os.path.exists(lock)


def test_execute_dml_merge(spark, cow_table, tmp_path):
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [
            Row(k=5, newv=500.0, tag="upd"),
            Row(k=105, newv=0.0, tag="del"),
            Row(k=9999, newv=9.0, tag="new"),
        ]
    ).coalesce(1).write.parquet(src_path)
    tables = {"t": cow_table, "s": src_path}
    st = execute_dml(
        spark,
        """MERGE INTO t USING s ON t.k = s.k
           WHEN MATCHED AND s.tag = 'del' THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = s.newv + t.v
           WHEN NOT MATCHED THEN INSERT (v, s) VALUES (s.newv, concat('ins-', s.tag))""",
        tables,
    )
    assert st.rows_matched == 2 and st.rows_inserted == 1
    back = spark.read.parquet(cow_table)
    assert back.where("k = 105").count() == 0            # matched delete
    assert back.where("k = 5").first()["v"] == 500.0 + (5 % 7)
    assert back.where("k = 9999").first()["v"] == 9.0    # inserted
    assert back.count() == 400  # -1 +1

    # without a NOT MATCHED clause, unmatched source rows are no-ops
    st2 = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.newv",
        tables,
    )
    assert st2.rows_inserted == 0
    assert spark.read.parquet(cow_table).count() == 400

    with pytest.raises(ValueError, match="share a name"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.newv WHEN MATCHED THEN DELETE",
            tables,
        )


def test_merge_insert_only_rewrites_no_files(spark, cow_table):
    before = _names(spark, cow_table)
    src = spark.createDataFrame([Row(k=10, v=0.0), Row(k=7777, v=7.0)])
    st = merge_into(spark, cow_table, src, on=["k"])  # no matched action
    assert st.files_rewritten == 0 and st.rows_inserted == 1
    # matched files untouched byte-for-byte (same names on disk)
    assert before <= _names(spark, cow_table)
    back = spark.read.parquet(cow_table)
    assert back.count() == 401
    assert back.where("k = 10").first()["v"] == 10 % 7  # unchanged


def test_merge_insert_values_unknown_column_raises(spark, cow_table):
    src = spark.createDataFrame([Row(k=7778, delta=1.0)])
    with pytest.raises(ValueError, match="insert_values on unknown"):
        merge_into(
            spark, cow_table, src, on=["k"], insert_values={"vaule": "0"}
        )


def test_execute_dml_merge_clause_conditions(spark, cow_table, tmp_path):
    src_path = str(tmp_path / "condsrc")
    spark.createDataFrame(
        [
            Row(k=20, newv=1.0, score=10),   # matched, passes UPDATE cond
            Row(k=21, newv=2.0, score=0),    # matched, fails UPDATE cond
            Row(k=8888, newv=3.0, score=10), # unmatched, passes INSERT cond
            Row(k=8889, newv=4.0, score=0),  # unmatched, fails INSERT cond
        ]
    ).coalesce(1).write.parquet(src_path)
    tables = {"t": cow_table, "s": src_path}
    st = execute_dml(
        spark,
        """MERGE INTO t USING s ON t.k = s.k
           WHEN MATCHED AND s.score > 5 THEN UPDATE SET v = s.newv
           WHEN NOT MATCHED AND s.score > 5 THEN INSERT (v) VALUES (s.newv)""",
        tables,
    )
    assert st.rows_inserted == 1  # only the passing unmatched row
    back = spark.read.parquet(cow_table)
    assert back.where("k = 20").first()["v"] == 1.0       # cond passed
    assert back.where("k = 21").first()["v"] == 21 % 7    # cond failed: kept
    assert back.where("k = 8888").count() == 1
    assert back.where("k = 8889").count() == 0

    # NOT MATCHED condition may not read the target row
    with pytest.raises(ValueError, match="cannot reference"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED AND t.v > 0 THEN INSERT",
            tables,
        )


def test_execute_dml_merge_clause_order_enforced(spark, cow_table, tmp_path):
    src_path = str(tmp_path / "ordsrc")
    spark.createDataFrame([Row(k=1, newv=0.0)]).coalesce(1).write.parquet(src_path)
    tables = {"t": cow_table, "s": src_path}
    with pytest.raises(ValueError, match="DELETE clause before"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.newv "
            "WHEN MATCHED AND s.newv = 0 THEN DELETE",
            tables,
        )
    with pytest.raises(ValueError, match="unreachable"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s.newv",
            tables,
        )


# -- round-6 hardening: duplicate clauses, quoted literals, optional WHERE,
#    snapshot-aware retain default, bounded merge prune ------------------------


def test_execute_dml_merge_duplicate_clauses_rejected(spark, cow_table, tmp_path):
    """Two clauses of the same kind must be an error, not last-one-wins:
    silently executing only the second clause is a different statement
    than the user wrote."""
    src_path = str(tmp_path / "dupsrc")
    spark.createDataFrame([Row(k=1, newv=0.0)]).coalesce(1).write.parquet(src_path)
    tables = {"t": cow_table, "s": src_path}
    with pytest.raises(ValueError, match="multiple WHEN MATCHED UPDATE"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED AND s.newv > 0 THEN UPDATE SET v = 1 "
            "WHEN MATCHED AND s.newv <= 0 THEN UPDATE SET v = 2",
            tables,
        )
    with pytest.raises(ValueError, match="multiple WHEN NOT MATCHED"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED AND s.newv > 0 THEN INSERT "
            "WHEN NOT MATCHED THEN INSERT",
            tables,
        )
    with pytest.raises(ValueError, match="multiple WHEN MATCHED DELETE"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED AND s.newv > 0 THEN DELETE "
            "WHEN MATCHED AND s.newv < 0 THEN DELETE",
            tables,
        )


def test_dml_string_literals_survive_parsing(spark, cow_table, tmp_path):
    """Literals are data: the alias pattern must not be rewritten inside
    's.tag', a comma inside a literal must not split the SET list, and a
    ' WHERE ' inside a literal must not split the statement."""
    tables = {"t": cow_table}
    st = execute_dml(
        spark, "UPDATE t SET s = 'a, WHERE (b' WHERE k = 1", tables
    )
    assert st.rows_matched == 1
    assert (
        spark.read.parquet(cow_table).where("k = 1").first()["s"]
        == "a, WHERE (b"
    )

    src_path = str(tmp_path / "litsrc")
    spark.createDataFrame([Row(k=2, tag="xyz")]).coalesce(1).write.parquet(src_path)
    tables = {"t": cow_table, "s": src_path}
    st = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET s = 's.tag, it''s literal'",
        tables,
    )
    assert st.rows_matched == 1
    assert (
        spark.read.parquet(cow_table).where("k = 2").first()["s"]
        == "s.tag, it's literal"
    )


def test_dml_where_optional_full_table(spark, cow_table):
    """The reference grammar makes WHERE optional
    (engine/src/parser.cpp parse_update/parse_delete): a bare UPDATE/DELETE
    is the full-table statement, not a parse error."""
    tables = {"t": cow_table}
    st = execute_dml(spark, "UPDATE t SET v = 0.5", tables)
    assert st.rows_matched == 400
    back = spark.read.parquet(cow_table)
    assert back.where("v <> 0.5").count() == 0
    st = execute_dml(spark, "DELETE FROM t", tables)
    assert st.rows_matched == 400


def test_retain_defaults_on_when_snapshots_exist(spark, cow_table):
    """DML with the default retain must not delete files a snapshot
    manifest still pins — time travel keeps working without the caller
    remembering retain=True."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        create_snapshot,
        read_snapshot,
    )

    create_snapshot(spark, cow_table, "pinned")
    delete_where(spark, cow_table, "k < 100")  # default retain -> auto True
    assert spark.read.parquet(cow_table).count() == 300
    assert read_snapshot(spark, cow_table, "pinned").count() == 400


def test_merge_prune_bound_falls_back_to_full_rewrite(spark, cow_table):
    """max_pruned_files caps the driver-side file-name list: a merge whose
    keys touch more files than the bound rewrites the whole table instead
    of collecting an unbounded list — same result, bounded metadata."""
    source = spark.createDataFrame(
        [Row(k=10, delta=1000.0), Row(k=110, delta=2000.0)]
    )
    st = merge_into(
        spark,
        cow_table,
        source,
        on=["k"],
        matched_set={"v": "v + src_delta"},
        max_pruned_files=1,  # 2 files match -> over the bound
    )
    assert st.files_rewritten == 4  # full-table fallback
    back = spark.read.parquet(cow_table)
    assert back.where("k = 10").first()["v"] == (10 % 7) + 1000.0
    assert back.where("k = 110").first()["v"] == (110 % 7) + 2000.0
    assert back.count() == 400


def test_version_log_mvcc_for_readers(spark, cow_table):
    """enable_versioning → every mutation commits the next version inside
    the writer lock; readers pinned to any version see its exact bytes
    across later DML (snapshot isolation for readers)."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        drop_versions_before,
        enable_versioning,
        read_version,
        table_versions,
        vacuum,
    )

    assert table_versions(spark, cow_table) == []
    assert enable_versioning(spark, cow_table) == 1
    assert enable_versioning(spark, cow_table) == 1  # idempotent
    delete_where(spark, cow_table, "k >= 300")          # -> v2
    update_where(spark, cow_table, {"v": "v + 1"}, "k < 100")  # -> v3
    # a no-op mutation commits no version
    delete_where(spark, cow_table, "k < 0")
    assert table_versions(spark, cow_table) == [1, 2, 3]

    v1, v2, v3 = (read_version(spark, cow_table, n) for n in (1, 2, 3))
    assert v1.count() == 400 and v2.count() == 300 and v3.count() == 300
    assert v1.where("k = 0").first()["v"] == 0.0   # pre-update
    assert v3.where("k = 0").first()["v"] == 1.0   # post-update
    # default = latest; matches the live table
    assert read_version(spark, cow_table).count() == 300
    assert spark.read.parquet(cow_table).count() == 300

    # vacuum reclaims nothing while versions reference the retired files
    assert vacuum(spark, cow_table) == 0
    assert read_version(spark, cow_table, 1).count() == 400

    # retention: drop old versions, vacuum reclaims, latest still reads
    assert drop_versions_before(spark, cow_table, keep_last=1) == 2
    assert vacuum(spark, cow_table) >= 1
    assert read_version(spark, cow_table).count() == 300
    with pytest.raises(FileNotFoundError, match="no version 1"):
        read_version(spark, cow_table, 1)


def test_version_log_merge_and_partitioned(spark, part_table):
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_version,
        table_versions,
    )

    enable_versioning(spark, part_table)
    src = spark.createDataFrame(
        [Row(k=3, delta=1000.0), Row(k=990, delta=5.0)]
    )
    merge_into(
        spark, part_table, src, on=["k"], matched_set={"v": "v + src_delta"}
    )
    assert table_versions(spark, part_table) == [1, 2]
    assert read_version(spark, part_table, 1).count() == 300
    assert read_version(spark, part_table, 2).count() == 301
    assert (
        read_version(spark, part_table, 2).where("k = 3").first()["v"]
        == 3 + 1000.0
    )
    # version 1 still shows the pre-merge value
    assert read_version(spark, part_table, 1).where("k = 3").first()["v"] == 3.0


def test_repair_table_reports_and_cleans_crash_debris(spark, cow_table):
    """A writer that died between stage and swap leaves a sibling staging
    dir and the lock; repair_table inventories them (report-only by
    default) and remove=True restores DML-ability."""
    import os as _os

    from sql_query_optimizer_cpp_spark.operators.mutate import repair_table

    assert repair_table(spark, cow_table).render().startswith("clean")
    # simulate the crash debris
    staging = cow_table + "__cow_deadbeef"
    _os.makedirs(staging)
    open(_os.path.join(staging, "part-00000.snappy.parquet"), "w").write("x")
    open(_os.path.join(cow_table, "_cow.lock"), "w").write("dead-writer")
    rep = repair_table(spark, cow_table)
    assert rep.staging_dirs and rep.stale_lock and not rep.removed
    # debris intact after report-only; DML still refused by the lock
    assert _os.path.isdir(staging)
    with pytest.raises(RuntimeError, match="another writer"):
        delete_where(spark, cow_table, "k = 1")
    rep = repair_table(spark, cow_table, remove=True)
    assert rep.removed
    assert not _os.path.isdir(staging)
    # table consistent and writable again
    assert delete_where(spark, cow_table, "k = 1").rows_matched == 1
    assert spark.read.parquet(cow_table).count() == 399


def test_execute_dml_merge_literals_and_case_survive_clause_split(
    spark, cow_table, tmp_path
):
    """r6 review regressions: a ';' inside an INSERT literal must not drop
    the WHEN NOT MATCHED clause (the old regex split silently executed a
    matched-only merge); 'WHEN MATCHED' inside a literal must not split
    the statement; CASE WHEN ... THEN ... END inside SET expressions and
    clause conditions must keep its own THEN."""
    src_path = str(tmp_path / "litclause")
    spark.createDataFrame(
        [Row(k=30, newv=7.0), Row(k=7001, newv=8.0)]
    ).coalesce(1).write.parquet(src_path)
    tables = {"t": cow_table, "s": src_path}

    # 1: semicolon inside the INSERT VALUES literal
    st = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.newv "
        "WHEN NOT MATCHED THEN INSERT (v, s) VALUES (s.newv, 'a;b')",
        tables,
    )
    assert st.rows_matched == 1 and st.rows_inserted == 1  # insert NOT dropped
    back = spark.read.parquet(cow_table)
    assert back.where("k = 7001").first()["s"] == "a;b"
    assert back.where("k = 30").first()["v"] == 7.0

    # 2: 'WHEN MATCHED' inside a string literal
    st = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET s = 'WHEN MATCHED THEN trap'",
        tables,
    )
    assert st.rows_matched == 2
    assert (
        spark.read.parquet(cow_table).where("k = 30").first()["s"]
        == "WHEN MATCHED THEN trap"
    )

    # 3: CASE WHEN in both a SET expression and a clause condition
    st = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND CASE WHEN s.newv > 0 THEN true ELSE false END "
        "THEN UPDATE SET v = CASE WHEN s.newv > 7 THEN 100 ELSE 200 END "
        "WHEN NOT MATCHED THEN INSERT",
        tables,
    )
    assert st.rows_matched == 2
    back = spark.read.parquet(cow_table)
    assert back.where("k = 30").first()["v"] == 200.0   # newv 7 -> ELSE
    assert back.where("k = 7001").first()["v"] == 100.0  # newv 8 -> THEN


def test_partitioned_merge_self_referential_source(spark, part_table):
    """A MERGE source derived from the TARGET table itself must survive the
    per-partition swap: Spark re-evaluates the source plan for every
    partition's staging job, so originals may only disappear after ALL
    partitions are staged (stage-all-then-swap).  Before that discipline,
    partition 2's staging read files partition 1's swap had already
    deleted (FileNotFoundException, or worse: silent reads of swapped-in
    data)."""
    src = (
        spark.read.parquet(part_table)
        .where("k < 9")  # keys in every partition dir p=0,1,2
        .select("k", (F.col("v") + 10000.0).alias("newv"))
    )
    st = merge_into(
        spark,
        part_table,
        src,
        on=["k"],
        matched_set={"v": "src_newv"},
    )
    assert st.rows_matched == 9 and st.rows_inserted == 0
    assert st.files_rewritten == 6  # every partition dir had k<9 rows
    back = spark.read.parquet(part_table)
    assert back.count() == 300
    assert back.where("k < 9 AND v <> CAST(k AS DOUBLE) + 10000.0").count() == 0
    assert back.where("k >= 9 AND v <> CAST(k AS DOUBLE)").count() == 0


def test_partitioned_delete_self_referential_condition(spark, part_table):
    """Same stage-all-then-swap guarantee for the plain verbs: a scalar
    subquery over the table itself inside the WHERE re-reads the table on
    EVERY partition's prune/count/staging job — if any partition's
    originals were deleted before all stagings completed, a later job
    would hit the hole."""
    spark.read.parquet(part_table).createOrReplaceTempView("selfref_v")
    cond = F.expr("k < (SELECT percentile(k, 0.02) FROM selfref_v)")
    # percentile(k,0.02) over 0..299 ≈ 5.98 → k in 0..5, rows in all
    # three p dirs (the multi-partition swap is what is under test)
    st = delete_where(spark, part_table, cond)
    assert st.rows_matched == 6
    assert len({f.rsplit("/", 2)[1] for f in _names_rec(spark, part_table)}) == 3
    back = spark.read.parquet(part_table)
    assert back.count() == 294
    assert back.agg(F.min("k")).first()[0] == 6


def test_segments_backslash_escaped_literals(spark, cow_table):
    """Spark's default lexer treats backslash as an escape inside string
    literals; the DML text scanner must lex the same boundary or splitting
    operates on literal content."""
    from sql_query_optimizer_cpp_spark.operators.dml_sql import _segments

    pieces = list(_segments(r"s = 'it\'s, x' , v = 1"))
    assert (r"'it\'s, x'", True) in pieces
    # escaped backslash immediately before the closing quote
    pieces = list(_segments(r"s = 'a\\'"))
    assert (r"'a\\'", True) in pieces
    with pytest.raises(ValueError, match="unterminated"):
        list(_segments(r"s = 'dangling\'"))

    tables = {"t": cow_table}
    st = execute_dml(
        spark, r"UPDATE t SET s = 'it\'s, fine WHERE x' WHERE k = 5", tables
    )
    assert st.rows_matched == 1
    assert (
        spark.read.parquet(cow_table).where("k = 5").first()["s"]
        == "it's, fine WHERE x"
    )


def test_snapshot_and_versioning_take_writer_lock(spark, cow_table):
    """A manifest may only pin a COMMITTED state: create_snapshot and
    enable_versioning must refuse while a writer holds the lock (a
    mid-swap file list pinned as a permanent version is corruption)."""
    import os as _os

    from sql_query_optimizer_cpp_spark.operators.versioning import (
        create_snapshot,
        enable_versioning,
        list_snapshots,
    )

    lock = _os.path.join(cow_table, "_cow.lock")
    open(lock, "w").write("held")
    with pytest.raises(RuntimeError, match="another writer"):
        create_snapshot(spark, cow_table, "mid")
    with pytest.raises(RuntimeError, match="another writer"):
        enable_versioning(spark, cow_table)
    assert list_snapshots(spark, cow_table) == []
    _os.remove(lock)
    assert create_snapshot(spark, cow_table, "ok") == 4
    assert enable_versioning(spark, cow_table) == 1
    # both released the lock on the way out
    assert not _os.path.exists(lock)
# -- optimistic concurrency (appended to tests/test_mutate.py) ---------------


def test_occ_disjoint_writers_both_commit(spark, cow_table):
    """Two writers on DISJOINT key ranges (different files in the
    range-clustered layout): the interleaved writer commits mid-flight and
    the outer writer's validation still passes — BOTH commit, no retry, no
    lost update."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_version,
        table_versions,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    enable_versioning(spark, cow_table)
    attempts = []

    def interleave(attempt):
        attempts.append(attempt)
        if attempt == 1:
            # writer B commits while A sits between stage and commit;
            # k>=300 lives in file 3, A's k<100 in file 0 — disjoint
            update_where(
                spark, cow_table, {"v": "v + 2000"}, "k >= 300",
                optimistic=True,
            )

    st = update_where(
        spark, cow_table, {"v": "v + 1000"}, "k < 100",
        _after_stage=interleave,
        optimistic=True,
    )
    assert attempts == [1]          # A committed on its FIRST attempt
    assert st.rows_matched == 100
    assert table_versions(spark, cow_table) == [1, 2, 3]
    back = spark.read.parquet(cow_table)
    # no lost update: both writers' effects present
    assert back.where("k < 100 AND v <> (k % 7) + 1000").count() == 0
    assert back.where("k >= 300 AND v <> (k % 7) + 2000").count() == 0
    assert back.where("k >= 100 AND k < 300 AND v <> CAST(k % 7 AS DOUBLE)").count() == 0
    # v1 still shows the pre-DML state (MVCC for readers held throughout)
    assert read_version(spark, cow_table, 1).where("v >= 1000").count() == 0


def test_occ_conflicting_writers_retry_then_commit(spark, cow_table):
    """Overlapping-file writers: the outer writer loses validation, retries
    against the winner's committed state, and the final state is the
    serial A-after-B outcome — never a lost update."""
    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    attempts = []

    def interleave(attempt):
        attempts.append(attempt)
        if attempt == 1:
            # same file (k<100 is file 0): forces a validation conflict
            update_where(
                spark, cow_table, {"v": "v + 50"}, "k < 50", optimistic=True
            )

    st = update_where(
        spark, cow_table, {"v": "v * 10"}, "k < 100",
        _after_stage=interleave,
        optimistic=True,
    )
    assert attempts == [1, 2]       # lost once, committed on retry
    assert st.rows_matched == 100
    back = spark.read.parquet(cow_table)
    # serial B-then-A: (v+50)*10 for k<50, v*10 for 50<=k<100
    assert back.where("k < 50 AND v <> ((k % 7) + 50) * 10").count() == 0
    assert back.where("k >= 50 AND k < 100 AND v <> (k % 7) * 10").count() == 0


def test_occ_conflict_exhausts_attempts(spark, cow_table):
    """max_attempts=1 turns the retry into an abort: the caller's mutation
    is NOT applied, the winner's is, and the staging is cleaned up."""
    from sql_query_optimizer_cpp_spark.operators.commit import (
        ConcurrentWriteConflict,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        delete_where,
        update_where,
        repair_table,
    )

    def interleave(attempt):
        update_where(
            spark, cow_table, {"v": "v + 50"}, "k < 50", optimistic=True
        )

    with pytest.raises(ConcurrentWriteConflict, match="optimistic attempt"):
        delete_where(
            spark, cow_table, "k < 100", max_attempts=1,
            _after_stage=interleave,
            optimistic=True,
        )
    back = spark.read.parquet(cow_table)
    assert back.count() == 400                      # delete never applied
    assert back.where("k < 50 AND v <> (k % 7) + 50").count() == 0
    # the loser's staging dir was reclaimed
    assert repair_table(spark, cow_table).staging_dirs == ()


def test_occ_two_threads_disjoint_keys(spark, cow_table):
    """Non-deterministic smoke: two real threads mutate disjoint ranges
    concurrently; with commit-or-retry both must land (the serialized
    verbs would refuse one)."""
    from concurrent.futures import ThreadPoolExecutor

    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    def occ_update(set_map, cond):
        return update_where(spark, cow_table, set_map, cond, optimistic=True)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(occ_update, {"v": "v + 1000"}, "k < 100")
        f2 = ex.submit(occ_update, {"v": "v + 2000"}, "k >= 300")
        s1, s2 = f1.result(timeout=120), f2.result(timeout=120)
    assert s1.rows_matched == 100 and s2.rows_matched == 100
    back = spark.read.parquet(cow_table)
    assert back.where("k < 100 AND v <> (k % 7) + 1000").count() == 0
    assert back.where("k >= 300 AND v <> (k % 7) + 2000").count() == 0


def test_occ_partitioned_disjoint_partitions_first_attempt(spark, part_table):
    """Partition-scope OCC (r8): writers on DISJOINT partitions never
    conflict — the interleaved writer commits p=1 while the outer writer
    sits between stage and commit on p=0, and the outer validation (scoped
    to p=0's directory) still passes first-attempt."""
    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    attempts = []

    def interleave(attempt):
        attempts.append(attempt)
        if attempt == 1:
            update_where(
                spark, part_table, {"v": "v + 2000"}, "p = 1", optimistic=True
            )

    st = update_where(
        spark, part_table, {"v": "v + 1000"}, "p = 0",
        _after_stage=interleave,
        optimistic=True,
    )
    assert attempts == [1]          # first-attempt commit, no retry
    assert st.rows_matched == 100
    back = spark.read.parquet(part_table)
    assert back.count() == 300
    assert back.where("p = 0 AND v <> k + 1000").count() == 0
    assert back.where("p = 1 AND v <> k + 2000").count() == 0
    assert back.where("p = 2 AND v <> CAST(k AS DOUBLE)").count() == 0


def test_occ_partitioned_same_partition_retries(spark, part_table):
    """Same-partition writers serialize by retry: the outer writer loses
    validation on p=0 once, re-reads, and the final state is the serial
    B-then-A outcome."""
    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    attempts = []

    def interleave(attempt):
        attempts.append(attempt)
        if attempt == 1:
            update_where(
                spark, part_table, {"v": "v + 50"}, "p = 0 AND k < 30",
                optimistic=True,
            )

    st = update_where(
        spark, part_table, {"v": "v * 10"}, "p = 0",
        _after_stage=interleave,
        optimistic=True,
    )
    assert attempts == [1, 2]
    assert st.rows_matched == 100
    back = spark.read.parquet(part_table)
    assert back.where("p = 0 AND k < 30 AND v <> (k + 50) * 10").count() == 0
    assert back.where("p = 0 AND k >= 30 AND v <> k * 10").count() == 0
    assert back.where("p <> 0 AND v <> CAST(k AS DOUBLE)").count() == 0


def test_occ_partitioned_delete_and_guards(spark, part_table):
    """Partitioned optimistic delete_where removes rows in place;
    partition-column assignment is refused exactly like the serialized
    verb."""
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        delete_where,
        update_where,
        repair_table,
    )

    st = delete_where(spark, part_table, "p = 2 AND k < 60", optimistic=True)
    assert st.rows_matched == len(
        [k for k in range(300) if k % 3 == 2 and k < 60]
    )
    back = spark.read.parquet(part_table)
    assert back.where("p = 2 AND k < 60").count() == 0
    assert back.where("p <> 2").count() == 200
    with pytest.raises(ValueError, match="partition columns"):
        update_where(spark, part_table, {"p": "1"}, "k < 10", optimistic=True)
    assert repair_table(spark, part_table).staging_dirs == ()


def test_execute_dml_optimistic_flag(spark, cow_table, tmp_path):
    """optimistic=True routes textual UPDATE/DELETE/MERGE through the occ
    verbs (same results as the serialized ones)."""
    tables = {"t": cow_table}
    st = execute_dml(
        spark, "UPDATE t SET v = v + 5 WHERE k < 10", tables, optimistic=True
    )
    assert st.rows_matched == 10
    st = execute_dml(
        spark, "DELETE FROM t WHERE k >= 390", tables, optimistic=True
    )
    assert st.rows_matched == 10
    back = spark.read.parquet(cow_table)
    assert back.count() == 390
    assert back.where("k < 10 AND v <> (k % 7) + 5").count() == 0
    # textual MERGE through the optimistic path
    src = str(tmp_path / "src")
    spark.range(5).selectExpr(
        "id + 388 AS k", "CAST(99 AS double) AS v", "'merged' AS s"
    ).write.parquet(src)
    tables["s"] = src
    st = execute_dml(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT",
        tables,
        optimistic=True,
    )
    assert st.rows_matched == 2 and st.rows_inserted == 3
    back = spark.read.parquet(cow_table)
    assert back.count() == 393
    assert back.where("k >= 388 AND v <> 99").count() == 0


def test_occ_lock_held_counts_as_conflict_not_stale_lock(spark, cow_table):
    """A serialized verb legitimately holding the lock past the occ
    writer's bounded wait must surface as ConcurrentWriteConflict (a lost
    attempt), NEVER as the 'stale lock, remove the file' RuntimeError —
    that message invites deleting a live writer's lock."""
    import os as _os

    from sql_query_optimizer_cpp_spark.operators.commit import (
        ConcurrentWriteConflict,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        update_where,
        repair_table,
    )

    lock = _os.path.join(cow_table, "_cow.lock")
    open(lock, "w").write("long-running-serialized-writer")
    try:
        with pytest.raises(ConcurrentWriteConflict, match="lock"):
            update_where(
                spark, cow_table, {"v": "v + 1"}, "k < 10",
                max_attempts=2, lock_wait_seconds=0.2,
                optimistic=True,
            )
        # table untouched, staging reclaimed
        assert spark.read.parquet(cow_table).where("v >= 100").count() == 0
        assert repair_table(spark, cow_table).staging_dirs == ()
    finally:
        _os.remove(lock)


def test_occ_missing_file_error_classifier():
    from sql_query_optimizer_cpp_spark.operators.reader import (
        _is_missing_file_error,
    )

    assert _is_missing_file_error(
        Exception("Job aborted ... java.io.FileNotFoundException: part-x")
    )
    assert _is_missing_file_error(Exception("[PATH_NOT_FOUND] Path does not exist"))
    assert not _is_missing_file_error(ValueError("UPDATE SET on unknown columns"))


# -- round-8: OCC hardening (ADVICE items) + observe-folded counts -----------


def test_occ_no_separate_count_job_per_attempt(spark, cow_table):
    """The matched-count rides the staging write as an observed metric —
    the pre-r8 shape ran a dedicated count() job per attempt.  Pin the
    fold directly: no job in the attempt's group may contain a 'count at'
    stage (the remaining jobs are the prune-scan collect, parquet schema
    inference, and the staged write carrying the observation)."""
    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    sc = spark.sparkContext
    sc.setJobGroup("occ-attempt", "count jobs for one occ attempt")
    try:
        st = update_where(
            spark, cow_table, {"v": "v + 1"}, "k < 100", optimistic=True
        )
    finally:
        sc.setJobGroup(None, None)
    assert st.rows_matched == 100
    tracker = sc.statusTracker()
    stage_names = []
    for j in tracker.getJobIdsForGroup("occ-attempt"):
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = tracker.getStageInfo(s)
            if si:
                stage_names.append(si.name)
    assert stage_names, "expected the attempt's jobs in the group"
    counts = [n for n in stage_names if n.startswith("count at")]
    assert not counts, f"occ attempt still runs a count job: {counts}"


def test_occ_after_stage_raise_reclaims_staging(spark, cow_table):
    """_after_stage is a public kwarg: if the callback raises, the staged
    dir must be deleted before the exception propagates (ADVICE r7)."""
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        update_where,
        repair_table,
    )

    with pytest.raises(RuntimeError, match="seam boom"):
        update_where(
            spark, cow_table, {"v": "v + 1"}, "k < 10",
            _after_stage=lambda a: (_ for _ in ()).throw(
                RuntimeError("seam boom")
            ),
            optimistic=True,
        )
    assert repair_table(spark, cow_table).staging_dirs == ()
    # table untouched
    assert spark.read.parquet(cow_table).where("v >= 100").count() == 0


def test_occ_missing_table_is_error_not_conflict(spark, tmp_path):
    """A genuinely wrong table path matches the same FileNotFound text the
    conflict classifier looks for — it must surface as the real error, not
    be retried max_attempts times and re-branded ConcurrentWriteConflict
    (ADVICE r7)."""
    from sql_query_optimizer_cpp_spark.operators.commit import (
        ConcurrentWriteConflict,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import delete_where

    missing = str(tmp_path / "never_created")
    with pytest.raises(Exception) as ei:
        delete_where(spark, missing, "k < 10", max_attempts=3, optimistic=True)
    assert not isinstance(ei.value, ConcurrentWriteConflict)


def test_occ_lock_wait_message_uses_actual_wait(spark, cow_table):
    """The lock-held conflict marker must state the wait the caller
    configured, not a hardcoded 30s (ADVICE r7)."""
    import os as _os

    from sql_query_optimizer_cpp_spark.operators.commit import (
        ConcurrentWriteConflict,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import update_where

    lock = _os.path.join(cow_table, "_cow.lock")
    open(lock, "w").write("held")
    try:
        with pytest.raises(ConcurrentWriteConflict, match=r"0\.2s wait"):
            update_where(
                spark, cow_table, {"v": "v + 1"}, "k < 10",
                max_attempts=1, lock_wait_seconds=0.2,
                optimistic=True,
            )
    finally:
        _os.remove(lock)


def test_repair_table_min_age_spares_young_staging(spark, cow_table):
    """OCC writers stage lock-free, so repair must be able to spare young
    staging dirs (a live writer's) and only sweep old debris (ADVICE r7)."""
    import os as _os

    from sql_query_optimizer_cpp_spark.operators.mutate import repair_table

    staging = cow_table + "__cow_deadbeef"
    _os.makedirs(staging)
    # young dir: invisible under a min-age threshold, visible without one
    assert repair_table(spark, cow_table, min_age_seconds=3600).staging_dirs == ()
    assert repair_table(spark, cow_table).staging_dirs == (
        "file:" + staging,
    ) or repair_table(spark, cow_table).staging_dirs == (staging,)
    # age it artificially and the threshold sweep picks it up
    old = time.time() - 7200
    _os.utime(staging, (old, old))
    rep = repair_table(spark, cow_table, remove=True, min_age_seconds=3600)
    assert len(rep.staging_dirs) == 1
    assert not _os.path.exists(staging)


# -- round-8: optimistic MERGE ------------------------------------------------


def test_occ_merge_disjoint_key_upserts_both_commit(spark, cow_table):
    """Two concurrent upserts on disjoint keys: the interleaved one
    commits mid-flight; the outer one loses SERIALIZABLE validation (a
    merge's read set is the whole table), retries, and both land."""
    from sql_query_optimizer_cpp_spark.operators.mutate import merge_into

    src_a = spark.range(5).selectExpr(
        "id AS k", "CAST(500 AS double) AS v", "'a' AS s"
    )
    src_b = spark.range(5).selectExpr(
        "id + 500 AS k", "CAST(600 AS double) AS v", "'b' AS s"
    )
    attempts = []

    def interleave(attempt):
        attempts.append(attempt)
        if attempt == 1:
            merge_into(
                spark, cow_table, src_b, on=["k"],
                matched_set={"v": "src_v"},
                optimistic=True,
            )

    st = merge_into(
        spark, cow_table, src_a, on=["k"],
        matched_set={"v": "src_v"},
        _after_stage=interleave,
        optimistic=True,
    )
    # writer B's commit changed the file list → A retried exactly once
    assert attempts == [1, 2]
    assert st.rows_matched == 5 and st.rows_inserted == 0
    back = spark.read.parquet(cow_table)
    assert back.count() == 405            # B inserted its 5 unmatched keys
    assert back.where("k < 5 AND v <> 500").count() == 0
    assert back.where("k >= 500 AND v <> 600").count() == 0


def test_occ_merge_insert_race_stays_serializable(spark, cow_table):
    """The race that file-scoped validation would get WRONG: both writers
    try to insert the SAME new key.  Serializable validation forces the
    loser to re-derive its unmatched set against the winner's commit, so
    the second merge becomes an UPDATE, never a duplicate insert."""
    from sql_query_optimizer_cpp_spark.operators.mutate import merge_into

    src = spark.createDataFrame(
        [(999, 1.0, "first")], "k long, v double, s string"
    )
    src2 = spark.createDataFrame(
        [(999, 2.0, "second")], "k long, v double, s string"
    )

    def interleave(attempt):
        if attempt == 1:
            merge_into(
                spark, cow_table, src, on=["k"], matched_set={"v": "src_v"},
                optimistic=True
            )

    st = merge_into(
        spark, cow_table, src2, on=["k"],
        matched_set={"v": "src_v"},
        _after_stage=interleave,
        optimistic=True,
    )
    # loser re-derived: its insert became a matched update
    assert st.rows_matched == 1 and st.rows_inserted == 0
    back = spark.read.parquet(cow_table)
    assert back.where("k = 999").count() == 1      # ONE row, not two
    assert back.where("k = 999 AND v = 2.0").count() == 1


def test_occ_merge_guards_and_conflict_exhaustion(spark, cow_table):
    """Duplicate-source guard fires once (before the retry loop); at
    max_attempts=1 a concurrent commit aborts the merge cleanly."""
    from sql_query_optimizer_cpp_spark.operators.commit import (
        ConcurrentWriteConflict,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        merge_into,
        update_where,
        repair_table,
    )

    dup = spark.createDataFrame(
        [(1, 1.0, "x"), (1, 2.0, "y")], "k long, v double, s string"
    )
    with pytest.raises(ValueError, match="duplicate join keys"):
        merge_into(
            spark, cow_table, dup, on=["k"], matched_set={"v": "src_v"},
            optimistic=True,
        )

    src = spark.createDataFrame([(1, 9.0, "z")], "k long, v double, s string")

    def interleave(attempt):
        update_where(
            spark, cow_table, {"v": "v + 50"}, "k >= 390", optimistic=True
        )

    with pytest.raises(ConcurrentWriteConflict, match="optimistic MERGE"):
        merge_into(
            spark, cow_table, src, on=["k"], matched_set={"v": "src_v"},
            max_attempts=1, _after_stage=interleave,
            optimistic=True,
        )
    back = spark.read.parquet(cow_table)
    assert back.where("k = 1 AND v = 9.0").count() == 0   # merge not applied
    assert back.where("k >= 390 AND v <> (k % 7) + 50").count() == 0
    assert repair_table(spark, cow_table).staging_dirs == ()


def test_occ_merge_partitioned(spark, part_table):
    """Optimistic MERGE on a hive-partitioned table: matched rewrite per
    partition dir, inserts land partitionBy'd, validation covers the
    recursive file list."""
    from sql_query_optimizer_cpp_spark.operators.mutate import merge_into

    src = spark.createDataFrame(
        [(0, 100.0, 0), (1, 200.0, 1), (900, 9.0, 2)],
        "k long, v double, p long",
    )
    st = merge_into(
        spark, part_table, src, on=["k"], matched_set={"v": "src_v"},
        optimistic=True,
    )
    assert st.rows_matched == 2 and st.rows_inserted == 1
    back = spark.read.parquet(part_table)
    assert back.count() == 301
    assert back.where("k = 0 AND v = 100.0").count() == 1
    assert back.where("k = 900 AND p = 2").count() == 1


# -- round-8: version-log delta manifests + checkpoints ----------------------


def test_version_log_delta_manifests_o_touched(spark, tmp_path):
    """Commit cost is O(touched files), not O(table files): between
    checkpoints each auto-version writes only its add/remove delta.
    Proven by manifest bytes across 30 synthetic commits on a 50-file
    table, with read_version reconstructing every version exactly."""
    import json
    import shutil

    from sql_query_optimizer_cpp_spark.operators.versioning import (
        CHECKPOINT_INTERVAL,
        _autoversion,
        _manifest_state,
        enable_versioning,
        read_version,
        table_versions,
        vacuum,
        drop_versions_before,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import list_data_files
    from sql_query_optimizer_cpp_spark.operators.storage import _writer_lock

    path = str(tmp_path / "wide")
    spark.range(5000).selectExpr("id AS k", "id * 1.0 AS v").repartition(
        50
    ).write.parquet(path)
    assert enable_versioning(spark, path) == 1

    def rel(fs):
        return {f.split(path + "/", 1)[1] for f in fs}

    expected = {1: rel(list_data_files(spark, path))}
    assert len(expected[1]) == 50
    # 30 synthetic commits: each swaps ONE data file (copy-under-new-name
    # + remove the old), then commits the next version under the lock —
    # pure metadata, exactly what a 1-file COW rewrite does on disk
    data = sorted(rel(list_data_files(spark, path)))
    for i in range(30):
        old = sorted(rel(list_data_files(spark, path)))[0]
        new = f"part-cow-synthetic-{i:05d}.snappy.parquet"
        shutil.copyfile(f"{path}/{old}", f"{path}/{new}")
        # versioned DML RETIRES superseded files (retain auto-engages);
        # mirror that so older versions stay readable
        batch = f"{path}/_retired/synth{i:05d}"
        os.makedirs(batch)
        shutil.move(f"{path}/{old}", f"{batch}/{old}")
        with _writer_lock(spark, path):
            _autoversion(spark, path)
        v = table_versions(spark, path)[-1]
        expected[v] = rel(list_data_files(spark, path))
    vs = table_versions(spark, path)
    assert vs == list(range(1, 32))
    # every version reconstructs to exactly the file set at its commit
    for v, want in expected.items():
        got = set(_manifest_state(spark, path, f"v{v:08d}")[0])
        assert got == want, f"version {v} reconstructed wrong"
    # manifest byte accounting: deltas are tiny and size-independent of
    # the table; the interval checkpoint is full
    snap = f"{path}/_snapshots"
    sizes = {}
    kinds = {}
    for v in vs:
        raw = open(f"{snap}/v{v:08d}.json", "rb").read()
        sizes[v] = len(raw)
        kinds[v] = "full" if "files" in json.loads(raw) else "delta"
    assert kinds[1] == "full"
    assert kinds[CHECKPOINT_INTERVAL + 1] == "full"   # the fold point
    deltas = [v for v in vs if kinds[v] == "delta"]
    assert len(deltas) == 29
    # a delta names ~2 files; a full manifest names 50 — order of
    # magnitude apart even as JSON bytes
    assert max(sizes[v] for v in deltas) < sizes[1] / 5
    # data read through a delta-chain version
    assert read_version(spark, path, 15).count() == 5000
    # retention: compaction materializes the oldest survivor before the
    # chain below it is dropped
    assert drop_versions_before(spark, path, keep_last=3) == 28
    kept = table_versions(spark, path)
    assert kept == [29, 30, 31]
    assert json.loads(open(f"{snap}/v{kept[0]:08d}.json", "rb").read()).get(
        "files"
    ), "oldest survivor must be a full checkpoint after retention"
    for v in kept:
        assert set(_manifest_state(spark, path, f"v{v:08d}")[0]) == expected[v]
    assert read_version(spark, path, 31).count() == 5000
    vacuum(spark, path)
    assert read_version(spark, path, 29).count() == 5000


# -- round-8: MERGE schema evolution ------------------------------------------


def test_merge_evolve_adds_nullable_column(spark, cow_table):
    """evolve_schema=True: a new source column joins the table — matched
    rows take the source value, inserts carry it, rewritten-but-unmatched
    rows and untouched files NULL-backfill through read_table."""
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        merge_into,
        read_table,
    )

    src = spark.createDataFrame(
        [(10, 1.5, "w-10"), (999, 2.5, "w-999")],
        "k long, delta double, w string",
    )
    st = merge_into(
        spark, cow_table, src, on=["k"],
        matched_set={"v": "v + src_delta"},
        evolve_schema=True,
    )
    assert st.rows_matched == 1 and st.rows_inserted == 1
    back = read_table(spark, cow_table)
    assert set(back.columns) == {"k", "v", "s", "w", "delta"}
    got = {r["k"]: r for r in back.where("k IN (10, 999, 11)").collect()}
    assert got[10]["w"] == "w-10" and got[10]["v"] == (10 % 7) + 1.5
    assert got[999]["w"] == "w-999" and got[999]["delta"] == 2.5
    assert got[11]["w"] is None          # same rewritten file, unmatched
    # untouched files (k in [100, 400)) NULL-backfill
    assert back.where("k >= 100 AND k < 400 AND w IS NOT NULL").count() == 0
    assert back.count() == 401
    # without evolve_schema the extra column is ignored (standard MERGE)
    src2 = spark.createDataFrame(
        [(20, 9.0, "zzz")], "k long, delta double, w2 string"
    )
    merge_into(spark, cow_table, src2, on=["k"], matched_set={"v": "src_delta"})
    assert "w2" not in read_table(spark, cow_table).columns


def test_merge_evolve_second_wave_and_refusals(spark, cow_table):
    """A second evolving merge sees the first wave's columns (mergeSchema
    target read); off-chain type changes are refused loudly."""
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        merge_into,
        read_table,
    )

    src1 = spark.createDataFrame([(5, "a")], "k long, tag string")
    merge_into(
        spark, cow_table, src1, on=["k"], matched_set={"tag": "src_tag"},
        evolve_schema=True,
    )
    src2 = spark.createDataFrame([(6, "b", 1)], "k long, tag string, n int")
    st = merge_into(
        spark, cow_table, src2, on=["k"],
        matched_set={"tag": "src_tag", "n": "src_n"},
        evolve_schema=True,
    )
    assert st.rows_matched == 1
    back = read_table(spark, cow_table)
    assert {"tag", "n"} <= set(back.columns)
    assert back.where("k = 5").first()["tag"] == "a"
    assert back.where("k = 6").first()["n"] == 1
    # string source for a double target: off every widening chain
    bad = spark.createDataFrame([(7, "oops")], "k long, v string")
    with pytest.raises(ValueError, match="explicit migration"):
        merge_into(
            spark, cow_table, bad, on=["k"], matched_set={"v": "src_v"},
            evolve_schema=True,
        )


def test_merge_evolve_widening_rewrites_table(spark, tmp_path):
    """An int→bigint source widening rewrites EVERY file (parquet schema
    merging refuses conflicting physical types), after which a plain read
    sees the widened schema everywhere."""
    from sql_query_optimizer_cpp_spark.operators.mutate import merge_into

    path = str(tmp_path / "narrow")
    spark.range(100).selectExpr(
        "CAST(id AS int) AS k", "CAST(id AS int) AS v"
    ).repartition(4).write.parquet(path)
    src = spark.createDataFrame(
        [(5, 5_000_000_000), (200, 42)], "k int, v long"
    )
    st = merge_into(
        spark, path, src, on=["k"], matched_set={"v": "src_v"},
        evolve_schema=True,
    )
    assert st.files_rewritten == 4           # full rewrite, all 4 files
    assert st.rows_matched == 1 and st.rows_inserted == 1
    back = spark.read.parquet(path)          # plain read — no mergeSchema
    assert dict(back.dtypes)["v"] == "bigint"
    assert back.where("k = 5").first()["v"] == 5_000_000_000
    assert back.count() == 101


def test_occ_merge_evolve_schema(spark, cow_table):
    """The optimistic verb carries evolution through its retry loop."""
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        merge_into,
        update_where,
        read_table,
    )

    src = spark.createDataFrame([(3, "occ")], "k long, note string")

    def interleave(attempt):
        if attempt == 1:
            update_where(
                spark, cow_table, {"v": "v + 1"}, "k >= 390", optimistic=True
            )

    st = merge_into(
        spark, cow_table, src, on=["k"], matched_set={"note": "src_note"},
        evolve_schema=True, _after_stage=interleave,
        optimistic=True,
    )
    assert st.rows_matched == 1
    back = read_table(spark, cow_table)
    assert back.where("k = 3").first()["note"] == "occ"
    assert back.where("k >= 390 AND v <> (k % 7) + 1").count() == 0


def test_read_changes_net_row_diff(spark, cow_table):
    """read_changes(v_from, v_to) = multiset(v_to) − multiset(v_from):
    rows a COW rewrite merely COPIED into a new file cancel out of the
    diff; an UPDATE surfaces as its delete + insert image pair; version
    pairs with no file diff return an empty frame with the same schema."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_changes,
    )

    enable_versioning(spark, cow_table)                          # v1
    update_where(spark, cow_table, {"v": "v + 100"}, "k < 3")    # v2
    delete_where(spark, cow_table, "k >= 398")                   # v3

    # v1→v2 rewrote a whole 100-row file for a 3-row update: the 97
    # copied rows MUST cancel, leaving 3 old images + 3 new images
    ch = read_changes(spark, cow_table, 1, 2)
    by = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert by == {"insert": 3, "delete": 3}
    new_v = [
        r["v"]
        for r in ch.where("_change_type = 'insert'").orderBy("k").collect()
    ]
    old_v = [
        r["v"]
        for r in ch.where("_change_type = 'delete'").orderBy("k").collect()
    ]
    assert new_v == [100.0, 101.0, 102.0]
    assert old_v == [0.0, 1.0, 2.0]

    # v1→v3 nets both commits: 3 update pairs + 2 pure deletes
    ch13 = read_changes(spark, cow_table, 1, 3)
    assert ch13.where("_change_type = 'insert'").count() == 3
    assert ch13.where("_change_type = 'delete'").count() == 5
    # to_version defaults to the latest committed
    assert read_changes(spark, cow_table, 1).count() == 8

    # same version twice: no file diff, empty result, schema intact
    same = read_changes(spark, cow_table, 2, 2)
    assert same.count() == 0
    assert same.columns[0] == "_change_type"
    assert set(same.columns) == {"_change_type", "k", "v", "s"}

    with pytest.raises(ValueError, match="newer than"):
        read_changes(spark, cow_table, 3, 1)
    with pytest.raises(FileNotFoundError, match="no version 9"):
        read_changes(spark, cow_table, 1, 9)


def test_read_changes_merge_partitioned_and_evolved(spark, part_table):
    """Changes across a partitioned MERGE (update + brand-new partition
    value) and across an evolve_schema commit: only touched partitions'
    files enter the diff; pre-evolution old images NULL-backfill the new
    column and still cancel when otherwise identical."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_changes,
    )

    enable_versioning(spark, part_table)                         # v1
    src = spark.createDataFrame(
        [Row(k=3, v=9999.0, p=0), Row(k=777, v=7.0, p=9)]
    )
    merge_into(                                                  # v2
        spark, part_table, src, on=["k"], matched_set={"v": "src_v"},
    )
    ch = read_changes(spark, part_table, 1, 2)
    ins = {
        (r["k"], r["v"], r["p"])
        for r in ch.where("_change_type = 'insert'").collect()
    }
    assert ins == {(3, 9999.0, 0), (777, 7.0, 9)}
    dels = ch.where("_change_type = 'delete'").collect()
    assert [(r["k"], r["v"], r["p"]) for r in dels] == [(3, 3.0, 0)]

    # evolution commit: new nullable column rides the diff
    src2 = spark.createDataFrame([(6, "tagged")], "k long, note string")
    merge_into(                                                  # v3
        spark, part_table, src2, on=["k"],
        matched_set={"note": "src_note"}, evolve_schema=True,
    )
    ch23 = read_changes(spark, part_table, 2, 3)
    assert ch23.where("_change_type = 'insert'").first()["note"] == "tagged"
    # the old image of k=6 NULL-backfills note; copied rows cancelled
    assert ch23.count() == 2


def _cow_siblings(path):
    import glob

    return glob.glob(path.rstrip("/") + "__cow_*")


def test_add_constraint_validates_and_refuses(spark, cow_table):
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
        drop_constraint,
        table_constraints,
    )

    add_constraint(spark, cow_table, "v_small", "v < 100")
    assert table_constraints(spark, cow_table) == {"v_small": "v < 100"}
    # duplicate name refused
    with pytest.raises(ValueError, match="already exists"):
        add_constraint(spark, cow_table, "v_small", "v < 200")
    # existing data violating the new constraint refused (v is k % 7)
    with pytest.raises(ConstraintViolation, match="existing rows violate"):
        add_constraint(spark, cow_table, "v_zero", "v = 0")
    # unknown column refused with the data-file schema in the message
    with pytest.raises(ValueError, match="must resolve against"):
        add_constraint(spark, cow_table, "ghost", "no_such_col > 0")
    with pytest.raises(ValueError, match="bare identifier"):
        add_constraint(spark, cow_table, "bad name", "v < 100")
    drop_constraint(spark, cow_table, "v_small")
    assert table_constraints(spark, cow_table) == {}
    with pytest.raises(ValueError, match="no constraint"):
        drop_constraint(spark, cow_table, "v_small")


def test_update_violating_constraint_aborts_unchanged(spark, cow_table):
    """A violating UPDATE aborts BEFORE any swap: same bytes, same file
    names, no staging debris, no version committed; NULL passes CHECK
    (SQL semantics); after drop_constraint the update lands."""
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
        drop_constraint,
    )
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        table_versions,
    )

    enable_versioning(spark, cow_table)
    add_constraint(spark, cow_table, "v_nonneg", "v >= 0")
    before = _names(spark, cow_table)
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        update_where(spark, cow_table, {"v": "v - 100"}, "k < 10")
    assert _names(spark, cow_table) == before
    assert _cow_siblings(cow_table) == []
    assert table_versions(spark, cow_table) == [1]
    # NULL result of the CHECK passes (s IS NULL on k % 50 == 0 rows);
    # a NULL-producing SET on checked column also passes the check
    add_constraint(spark, cow_table, "s_prefix", "s LIKE 'row-%'")
    st = update_where(
        spark, cow_table, {"v": "v + 1"}, "k BETWEEN 100 AND 104"
    )
    assert st.rows_matched == 5
    drop_constraint(spark, cow_table, "v_nonneg")
    st = update_where(spark, cow_table, {"v": "v - 100"}, "k < 10")
    assert st.rows_matched == 10
    back = spark.read.parquet(cow_table)
    assert back.where("v < 0").count() == 10


def test_partitioned_update_constraint_aborts(spark, part_table):
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
    )

    add_constraint(spark, part_table, "v_cap", "v < 10000")
    before = _names_rec(spark, part_table)
    with pytest.raises(ConstraintViolation, match="v_cap"):
        update_where(spark, part_table, {"v": "v + 1000000"}, "k % 3 = 0")
    assert _names_rec(spark, part_table) == before
    assert _cow_siblings(part_table) == []
    # constraints referencing the PARTITION column are refused at add time
    with pytest.raises(ValueError, match="must resolve against"):
        add_constraint(spark, part_table, "p_pos", "p >= 0")


def test_merge_violating_constraint_reclaims_all_staging(spark, cow_table):
    """Both a violating INSERT row and a violating matched SET abort the
    merge with every staging dir (rewrites + inserts) reclaimed."""
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
    )

    add_constraint(spark, cow_table, "k_cap", "k < 10000")
    before = _names(spark, cow_table)
    n_before = spark.read.parquet(cow_table).count()
    bad_insert = spark.createDataFrame(
        [Row(k=99999, v=1.0, s="bad")]
    )
    with pytest.raises(ConstraintViolation, match="k_cap"):
        merge_into(spark, cow_table, bad_insert, on=["k"])
    assert _names(spark, cow_table) == before
    assert _cow_siblings(cow_table) == []
    assert spark.read.parquet(cow_table).count() == n_before

    add_constraint(spark, cow_table, "v_cap", "v < 50")
    bad_set = spark.createDataFrame([Row(k=3, boost=1000.0)])
    with pytest.raises(ConstraintViolation, match="v_cap"):
        merge_into(
            spark, cow_table, bad_set, on=["k"],
            matched_set={"v": "v + src_boost"},
        )
    assert _names(spark, cow_table) == before
    assert _cow_siblings(cow_table) == []


def test_occ_update_constraint_terminal_not_conflict(spark, cow_table):
    """Under the optimistic verb a violation is TERMINAL on attempt 1 —
    wrong data never burns max_attempts retries or surfaces as a
    misleading ConcurrentWriteConflict — and staging is reclaimed."""
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        delete_where,
        update_where,
    )

    add_constraint(spark, cow_table, "v_nonneg", "v >= 0")
    attempts = []
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        update_where(
            spark, cow_table, {"v": "v - 100"}, "k < 10",
            _after_stage=attempts.append,
            optimistic=True,
        )
    assert attempts == []  # aborted before the commit phase, first attempt
    assert _cow_siblings(cow_table) == []
    # deletes cannot violate and skip the check entirely
    st = delete_where(spark, cow_table, "k >= 395", optimistic=True)
    assert st.rows_matched == 5


def test_read_as_of_wall_clock(spark, cow_table):
    """read_as_of picks the newest version committed ≤ the stamp; naive
    stamps are UTC; stamps before v1 refuse with the earliest commit."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_as_of,
        version_history,
    )

    enable_versioning(spark, cow_table)                       # v1
    delete_where(spark, cow_table, "k >= 300")                # v2
    hist = version_history(spark, cow_table)
    assert [v for v, _ in hist] == [1, 2]
    assert all(ts for _, ts in hist)
    t1, t2 = hist[0][1], hist[1][1]
    assert t1 <= t2

    assert read_as_of(spark, cow_table, t1).count() == 400
    assert read_as_of(spark, cow_table, t2).count() == 300
    # "now" (well past both commits) = latest
    assert read_as_of(spark, cow_table, "9999-01-01").count() == 300
    with pytest.raises(ValueError, match="at or before"):
        read_as_of(spark, cow_table, "1999-01-01")


def test_compact_zorder_reclusters_both_dims(spark, tmp_path):
    """compact(zorder=[x,y]) = OPTIMIZE ZORDER BY: the rewritten files
    carry NARROW min/max footer ranges on BOTH dimensions, so point
    predicates on either column skip most files; sort_by clusters its
    one dimension; partition columns are refused as recluster keys."""
    import pyarrow.parquet as pq

    from sql_query_optimizer_cpp_spark.operators.mutate import compact

    n, side = 1 << 14, 1 << 7
    path = str(tmp_path / "zc")
    # row-number layout: every input file spans the FULL x domain
    spark.range(n).selectExpr(
        f"CAST(id % {side} AS DOUBLE) AS x",
        f"CAST(id DIV {side} AS DOUBLE) AS y",
        "id AS payload",
    ).repartition(8).write.parquet(path)

    def avg_files_hit(col):
        import glob

        ranges = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }[col]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
        probes = [float(p) for p in range(0, side, 8)]
        return (
            sum(
                sum(1 for lo, hi in ranges if lo <= p <= hi)
                for p in probes
            )
            / len(probes),
            len(ranges),
        )

    before_x, n_before = avg_files_hit("x")
    assert before_x == n_before  # every file spans the whole x domain

    bytes_total = sum(
        len(open(f, "rb").read())
        for f in __import__("glob").glob(path + "/*.parquet")
    )
    st = compact(
        spark, path, target_bytes=bytes_total // 16, zorder=["x", "y"]
    )
    assert st.files_rewritten == 8 and st.rows_matched == n
    hit_x, n_files = avg_files_hit("x")
    hit_y, _ = avg_files_hit("y")
    assert n_files >= 12
    # both dims now prune: a point predicate opens well under the file
    # count (ideal ~sqrt for a Morton tiling; curve-boundary slack)
    assert hit_x <= 0.55 * n_files
    assert hit_y <= 0.55 * n_files

    # single-dimension recluster: x near-perfect, y keeps spanning
    path2 = str(tmp_path / "lin")
    spark.read.parquet(path).write.parquet(path2)
    compact(
        spark, path2, target_bytes=bytes_total // 16, sort_by=["x"]
    )

    with pytest.raises(ValueError, match="mutually exclusive"):
        compact(spark, path, zorder=["x"], sort_by=["y"])


def test_compact_recluster_refuses_partition_cols(spark, part_table):
    from sql_query_optimizer_cpp_spark.operators.mutate import compact

    with pytest.raises(ValueError, match="partition columns cannot"):
        compact(spark, part_table, zorder=["p", "k"])
    # data-column recluster per partition dir works and keeps row counts
    st = compact(spark, part_table, sort_by=["k"])
    assert st.rows_matched == 300
    assert spark.read.parquet(part_table).count() == 300


def test_merge_evolved_column_updates_pre_evolution_files(spark, cow_table):
    """Review regression (r8): a matched_set on an evolved column whose
    hit files ALL predate the evolution must still apply — previously the
    projection covered only the hit group's own columns and silently
    dropped the update (lost update)."""
    from sql_query_optimizer_cpp_spark.operators.mutate import read_table

    # wave 1 evolves 'score' into file 1 only (k=5 lives in [0,100))
    merge_into(
        spark, cow_table,
        spark.createDataFrame([(5, 1.5)], "k long, score double"),
        on=["k"], matched_set={"score": "src_score"}, evolve_schema=True,
    )
    # wave 2 hits ONLY file 3 (k=250), which has no 'score' column
    merge_into(
        spark, cow_table,
        spark.createDataFrame([(250, 9.9)], "k long, score double"),
        on=["k"], matched_set={"score": "src_score"}, evolve_schema=True,
    )
    back = read_table(spark, cow_table)
    assert back.where("k = 250").first()["score"] == 9.9
    assert back.where("k = 5").first()["score"] == 1.5
    # untouched rows in the rewritten file NULL-backfill
    assert back.where("k = 251").first()["score"] is None


def test_constraint_on_evolved_column_backfills(spark, cow_table):
    """Review regression (r8): a CHECK on an evolved column must not
    abort a mutation whose staged files legally lack that column (NULL
    passes CHECK); violations on the column still catch."""
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
    )

    merge_into(
        spark, cow_table,
        spark.createDataFrame([(5, 1.5)], "k long, score double"),
        on=["k"], matched_set={"score": "src_score"}, evolve_schema=True,
    )
    add_constraint(spark, cow_table, "score_pos", "score >= 0")
    # touches only pre-evolution files (k=250 in file 3): staged output
    # has no 'score' column — must succeed via snapshot backfill
    st = update_where(spark, cow_table, {"v": "v + 1"}, "k = 250")
    assert st.rows_matched == 1
    # a violating score still aborts
    with pytest.raises(ConstraintViolation, match="score_pos"):
        merge_into(
            spark, cow_table,
            spark.createDataFrame([(7, -3.0)], "k long, score double"),
            on=["k"], matched_set={"score": "src_score"},
            evolve_schema=True,
        )


@pytest.mark.parametrize(
    "verb",
    [
        "occ_update_where",
        "occ_merge_into",
        "occ_dv_update_where",
        "occ_dv_merge_into",
    ],
)
def test_occ_recheck_constraint_added_mid_flight(spark, cow_table, verb):
    """Review regression (r8): a constraint registered between an OCC
    writer's lock-free enforcement and its commit lock must still gate
    the publish (the in-lock re-check) — for every value-changing
    optimistic verb, copy-on-write and merge-on-read alike."""
    from sql_query_optimizer_cpp_spark.operators import mor
    from sql_query_optimizer_cpp_spark.operators import mutate as m
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        add_constraint,
    )

    def add_mid_flight(attempt):
        # current table satisfies this; the staged change does not
        add_constraint(spark, cow_table, "v_cap", "v < 1000")

    fn = getattr(mor if "_dv_" in verb else m, verb.removeprefix("occ_"))
    if verb.endswith("merge_into"):
        src = spark.createDataFrame(
            [(k, 100000.0) for k in range(10)], "k long, v double"
        )
        args = (src, ["k"])
        kwargs = {"matched_set": {"v": "v + src_v"}}
    else:
        args, kwargs = ({"v": "v + 100000"}, "k < 10"), {}
    with pytest.raises(ConstraintViolation, match="v_cap"):
        fn(
            spark, cow_table, *args, optimistic=True,
            _after_stage=add_mid_flight, **kwargs,
        )
    assert _cow_siblings(cow_table) == []
    back = mor.read_mor(spark, cow_table)
    assert back.where("v >= 1000").count() == 0
    assert back.count() == 400


def test_occ_dv_conflict_exhaustion_is_concurrent_write_conflict(
    spark, cow_table
):
    """Optimistic DV verbs that run out of attempts raise the same
    ConcurrentWriteConflict as the COW ones (a RuntimeError subclass, so
    existing handlers keep working) and leave no staging behind."""
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        read_mor,
    )
    from sql_query_optimizer_cpp_spark.operators.commit import (
        ConcurrentWriteConflict,
    )

    def interleave(attempt):
        # tombstone another row of the same file the loser is deleting from
        dv_delete_where(spark, cow_table, "k = 50")

    with pytest.raises(ConcurrentWriteConflict, match="optimistic DV DELETE"):
        dv_delete_where(
            spark, cow_table, "k < 10", optimistic=True, max_attempts=1,
            _after_stage=interleave,
        )
    assert _cow_siblings(cow_table) == []
    back = read_mor(spark, cow_table)
    assert back.count() == 399  # only the winner's tombstone landed
    assert back.where("k < 10").count() == 10


@pytest.mark.parametrize(
    "verb",
    [
        "update_where",
        "occ_update_where",
        "dv_update_where",
        "occ_dv_update_where",
    ],
)
def test_commit_keeps_unrelated_cached_frames(
    spark, tmp_path, cow_table, verb
):
    """A commit refreshes cached frames over ITS table only: a frame
    persisted over another table stays cached across locked and
    optimistic, copy-on-write and merge-on-read commits."""
    from sql_query_optimizer_cpp_spark.operators import mor
    from sql_query_optimizer_cpp_spark.operators import mutate as m

    other = str(tmp_path / "other")
    spark.range(50).write.parquet(other)
    hot = spark.read.parquet(other).where("id % 2 = 0").persist()
    try:
        assert hot.count() == 25
        fn = getattr(mor if "dv_" in verb else m, verb.removeprefix("occ_"))
        st = fn(
            spark, cow_table, {"v": "v + 1"}, "k < 10",
            optimistic=verb.startswith("occ_"),
        )
        assert st.rows_matched == 10
        level = hot.storageLevel
        assert level.useMemory or level.useDisk
        assert hot.count() == 25
    finally:
        hot.unpersist()


def test_commit_refreshes_frames_over_the_mutated_table(spark, cow_table):
    """A frame persisted over the mutated table counts the committed
    rows after a COW delete (the path-scoped refresh re-caches it)."""
    from sql_query_optimizer_cpp_spark.operators.mutate import delete_where

    cached = spark.read.parquet(cow_table).persist()
    try:
        assert cached.count() == 400
        delete_where(spark, cow_table, "k < 10")
        assert cached.count() == 390
        delete_where(spark, cow_table, "k >= 390", optimistic=True)
        assert cached.count() == 380
    finally:
        cached.unpersist()


def test_compact_zorder_refuses_strings_and_keeps_stats_fresh(
    spark, cow_table
):
    """Review regressions (r8): zorder on a string column is refused
    (constant rank would collapse the layout); compact is layout-only
    and must NOT bump the stats mutation epoch (no false staleness)."""
    from sql_query_optimizer_cpp_spark.catalog import mutation_epoch
    from sql_query_optimizer_cpp_spark.operators.mutate import compact

    with pytest.raises(ValueError, match="use sort_by for"):
        compact(spark, cow_table, zorder=["s"])
    before = mutation_epoch(spark, cow_table)
    compact(spark, cow_table, target_bytes=1 << 30)  # bin-packs all 4
    assert mutation_epoch(spark, cow_table) == before
    update_where(spark, cow_table, {"v": "v + 1"}, "k = 1")
    assert mutation_epoch(spark, cow_table) == before + 1


def test_read_changes_scan_scope_and_multiplicity(spark, tmp_path):
    """Scale + semantics pins for the signed-aggregate CDC diff: (a) the
    plan reads ONLY the files the range touched (1 rewritten + its
    retired original out of 8), each exactly once; (b) duplicate rows
    carry exact multiset multiplicity through the diff."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_changes,
    )

    path = str(tmp_path / "cdc_scope")
    spark.range(800).selectExpr(
        "CAST(id % 100 AS LONG) AS k", "CAST(id % 7 AS DOUBLE) AS v"
    ).repartitionByRange(8, "k").write.parquet(path)
    enable_versioning(spark, path)
    update_where(spark, path, {"v": "v + 50"}, "k = 5")  # one file's range
    ch = read_changes(spark, path, 1, 2)
    files = ch.inputFiles()
    assert len(files) == 2  # the rewritten file + its retired original
    assert len(set(files)) == 2

    # duplicate-row multiplicity: k=5 appears 8 times (800/100), all
    # with identical images per (k, v) pair — the diff must carry the
    # exact multiset counts, not a distinct
    assert ch.where("_change_type = 'insert'").count() == 8
    assert ch.where("_change_type = 'delete'").count() == 8
    ins = ch.where("_change_type = 'insert'").groupBy("v").count().collect()
    assert sum(r["count"] for r in ins) == 8


def test_execute_dml_alter_constraint(spark, cow_table):
    """Textual constraint DDL: ALTER TABLE ADD CONSTRAINT ... CHECK (...)
    gates later textual DML; DROP CONSTRAINT lifts it; malformed forms
    and unknown tables are refused with the dialect in the message."""
    from sql_query_optimizer_cpp_spark.operators.constraints import (
        ConstraintViolation,
        table_constraints,
    )

    tables = {"t": cow_table}
    st = execute_dml(
        spark, "ALTER TABLE t ADD CONSTRAINT v_nonneg CHECK (v >= 0)",
        tables,
    )
    assert (st.files_rewritten, st.rows_matched) == (0, 0)
    assert table_constraints(spark, cow_table) == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        execute_dml(spark, "UPDATE t SET v = v - 100 WHERE k < 5", tables)
    execute_dml(spark, "ALTER TABLE t DROP CONSTRAINT v_nonneg", tables)
    st = execute_dml(spark, "UPDATE t SET v = v - 100 WHERE k < 5", tables)
    assert st.rows_matched == 5

    with pytest.raises(ValueError, match="needs CHECK"):
        execute_dml(spark, "ALTER TABLE t ADD CONSTRAINT x", tables)
    with pytest.raises(ValueError, match="takes no CHECK"):
        execute_dml(
            spark, "ALTER TABLE t DROP CONSTRAINT x CHECK (v > 0)", tables
        )
    with pytest.raises(ValueError, match="unknown table"):
        execute_dml(
            spark, "ALTER TABLE ghost ADD CONSTRAINT x CHECK (v > 0)",
            tables,
        )
    # a CHECK whose expression itself contains parens parses intact
    execute_dml(
        spark,
        "ALTER TABLE t ADD CONSTRAINT vc CHECK (COALESCE(v, (0)) > -1e9)",
        tables,
    )
    assert table_constraints(spark, cow_table) == {
        "vc": "COALESCE(v, (0)) > -1e9"
    }


def test_read_changes_extreme_multiplicity_streams(spark, tmp_path):
    """Review regression (r8): one distinct image with net multiplicity
    far above the 64k expansion chunk must re-expand through the nested
    bounded sequences (never one giant array) with an exact count."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_changes,
        signed_net_expand,
    )

    n = 150_000  # > 2 × _EXPAND_CHUNK
    path = str(tmp_path / "dup")
    spark.range(n).selectExpr(
        "CAST(1 AS LONG) AS k", "CAST(1.0 AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    enable_versioning(spark, path)
    delete_where(spark, path, "k = 1")
    ch = read_changes(spark, path, 1, 2)
    assert ch.count() == n
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"

    # working-column collision is refused loudly, not silently wrong
    df = spark.range(1).selectExpr(
        "id AS __sqlopt_cdc_net", "1 AS __sqlopt_cdc_sign"
    )
    with pytest.raises(ValueError, match="collides"):
        signed_net_expand(df, ["__sqlopt_cdc_net"])


# -- RESTORE TO VERSION -------------------------------------------------------


def test_restore_version_rolls_forward(spark, cow_table):
    """RESTORE makes the live file set equal an old version's manifest as a
    NEW commit: metadata-only renames, full history preserved, CDC across
    the restore shows the net undo."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_changes,
        read_version,
        restore_version,
        table_versions,
    )

    enable_versioning(spark, cow_table)                    # v1: 400 rows
    delete_where(spark, cow_table, "k >= 300")             # v2: 300 rows
    update_where(spark, cow_table, {"v": "v + 1"}, "k < 100")  # v3
    st = restore_version(spark, cow_table, 2)              # v4 == v2
    assert st.files_rewritten > 0 and st.rows_matched == 0
    assert table_versions(spark, cow_table) == [1, 2, 3, 4]
    live = spark.read.parquet(cow_table)
    assert live.count() == 300
    assert live.where("k = 0").first()["v"] == 0.0  # update undone
    # every intermediate version still reads exactly
    assert read_version(spark, cow_table, 3).where("k = 0").first()["v"] == 1.0
    assert read_version(spark, cow_table, 1).count() == 400
    assert read_version(spark, cow_table, 4).count() == 300
    # CDC across the restore = the net undo of the v3 update
    ch = read_changes(spark, cow_table, 3, 4)
    kinds = {r["_change_type"] for r in ch.collect()}
    assert kinds == {"insert", "delete"}
    assert ch.count() == 200  # 100 rows out (v+1), 100 rows back (v)


def test_restore_version_noop_and_errors(spark, cow_table):
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        restore_version,
        table_versions,
    )

    with pytest.raises(ValueError, match="versioning not enabled"):
        restore_version(spark, cow_table, 1)
    enable_versioning(spark, cow_table)
    # restoring to the current state commits nothing
    st = restore_version(spark, cow_table, 1)
    assert st.files_rewritten == 0
    assert table_versions(spark, cow_table) == [1]
    with pytest.raises(FileNotFoundError, match="no version 9"):
        restore_version(spark, cow_table, 9)


def test_restore_version_partitioned_and_restore_again(spark, part_table):
    """Partitioned restore moves files back into their partition dirs; a
    restored state can itself be restored away from and back to."""
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
        read_version,
        restore_version,
    )

    enable_versioning(spark, part_table)                    # v1: 300 rows
    delete_where(spark, part_table, "p = 1")                # v2: 200 rows
    delete_where(spark, part_table, "p = 2 AND k < 50")     # v3
    restore_version(spark, part_table, 1)                   # v4 == v1
    back = spark.read.parquet(part_table)
    assert back.count() == 300
    assert back.where("p = 1").count() == 100
    restore_version(spark, part_table, 3)                   # v5 == v3
    assert spark.read.parquet(part_table).count() == 200 - len(
        [k for k in range(300) if k % 3 == 2 and k < 50]
    )
    assert read_version(spark, part_table, 4).count() == 300


def test_restore_version_rerun_commits_after_crash(spark, cow_table, monkeypatch):
    """Crash between restore's renames and its commit: the rerun must not
    no-op — it detects live-set/manifest divergence and commits."""
    from sql_query_optimizer_cpp_spark.operators import versioning as vv

    vv.enable_versioning(spark, cow_table)                 # v1
    delete_where(spark, cow_table, "k >= 300")             # v2
    update_where(spark, cow_table, {"v": "v + 1"}, "k < 100")  # v3

    real = vv._autoversion
    calls = {"n": 0}

    def dying(spark_, path_):
        calls["n"] += 1
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(vv, "_autoversion", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        vv.restore_version(spark, cow_table, 2)
    # bytes restored, commit missing: live == v2 but log still ends at v3
    assert spark.read.parquet(cow_table).where("k = 0").first()["v"] == 0.0
    assert vv.table_versions(spark, cow_table) == [1, 2, 3]
    monkeypatch.setattr(vv, "_autoversion", real)
    st = vv.restore_version(spark, cow_table, 2)           # the rerun
    assert st.files_rewritten == 0  # nothing to move — but it commits
    assert vv.table_versions(spark, cow_table) == [1, 2, 3, 4]
    assert vv.read_version(
        spark, cow_table, 4
    ).where("k = 0").first()["v"] == 0.0


def test_occ_merge_write_serializable_disjoint_no_retry(spark, cow_table):
    """isolation='write_serializable' (r9): a concurrent commit on
    DISJOINT files does not invalidate this merge — it commits on its
    FIRST attempt without re-staging (the serializable level retries,
    test_occ_merge_disjoint_key_upserts_both_commit).  A concurrent
    commit that removes one of THIS merge's hit files still conflicts."""
    from sql_query_optimizer_cpp_spark.operators.mutate import merge_into

    # cow_table is range-clustered on k: keys <5 and >=350 live in
    # disjoint files, so the interleaved writer touches none of ours
    src_a = spark.range(5).selectExpr(
        "id AS k", "CAST(500 AS double) AS v", "'a' AS s"
    )
    src_b = spark.createDataFrame(
        [(350, 600.0, "b")], "k long, v double, s string"
    )
    attempts = []

    def interleave(attempt):
        attempts.append(attempt)
        if attempt == 1:
            merge_into(
                spark, cow_table, src_b, on=["k"],
                matched_set={"v": "src_v"},
                optimistic=True,
            )

    st = merge_into(
        spark, cow_table, src_a, on=["k"],
        matched_set={"v": "src_v"},
        isolation="write_serializable",
        _after_stage=interleave,
        optimistic=True,
    )
    assert attempts == [1]  # no retry: the concurrent commit was disjoint
    assert st.rows_matched == 5
    back = spark.read.parquet(cow_table)
    assert back.where("k < 5 AND v <> 500").count() == 0
    assert back.where("k = 350").first()["v"] == 600.0
    # overlapping writers still conflict: B2 rewrites the same low-key
    # file A2 staged against → A2 must retry once and still land
    attempts.clear()

    def interleave_overlap(attempt):
        attempts.append(attempt)
        if attempt == 1:
            merge_into(
                spark, cow_table,
                spark.createDataFrame(
                    [(1, -1.0, "b2")], "k long, v double, s string"
                ),
                on=["k"], matched_set={"v": "src_v"},
                optimistic=True,
            )

    st2 = merge_into(
        spark, cow_table,
        spark.createDataFrame(
            [(2, 777.0, "a2")], "k long, v double, s string"
        ),
        on=["k"], matched_set={"v": "src_v"},
        isolation="write_serializable",
        _after_stage=interleave_overlap,
        optimistic=True,
    )
    assert attempts == [1, 2]
    back = spark.read.parquet(cow_table)
    assert back.where("k = 2").first()["v"] == 777.0
    assert back.where("k = 1").first()["v"] == -1.0
    with pytest.raises(ValueError, match="isolation"):
        merge_into(
            spark, cow_table, src_a, on=["k"], isolation="nope",
            optimistic=True
        )


_FOLD_TEXT = {
    "DELETE": "DELETE FROM t WHERE k < 5",
    "UPDATE": "UPDATE t SET v = v + 1 WHERE k >= 15",
    "MERGE": "MERGE INTO t USING s ON t.k = s.k "
    "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT",
}


@pytest.mark.parametrize("optimistic", [False, True], ids=["locked", "occ"])
@pytest.mark.parametrize("mor", [False, True], ids=["cow", "mor"])
@pytest.mark.parametrize("verb", ["DELETE", "UPDATE", "MERGE"])
def test_dml_text_equals_direct_verb_call(
    spark, tmp_path, verb, mor, optimistic
):
    """Every (verb, storage, commit mode) cell: ``Engine.dml`` on one
    table and the direct verb call on its twin return equal
    MutationStats — one return type, ``files_total`` the pre-statement
    count — and leave equal rows."""
    from sql_query_optimizer_cpp_spark.engine import Engine
    from sql_query_optimizer_cpp_spark.operators import mor as mor_mod
    from sql_query_optimizer_cpp_spark.operators import mutate as m

    df = spark.range(20).selectExpr("id AS k", "CAST(id AS double) AS v")
    text_t, call_t, src = (str(tmp_path / n) for n in ("a", "b", "src"))
    for p in (text_t, call_t):
        df.repartitionByRange(2, "k").write.parquet(p)
    spark.createDataFrame(
        [(3, 30.0), (100, 1.0)], "k long, v double"
    ).write.parquet(src)

    got = Engine(spark).dml(
        _FOLD_TEXT[verb], {"t": text_t, "s": src},
        optimistic=optimistic, mor=mor,
    )
    name = {"DELETE": "delete_where", "UPDATE": "update_where"}.get(
        verb, "merge_into"
    )
    fn = getattr(mor_mod, f"dv_{name}") if mor else getattr(m, name)
    args = {
        "DELETE": ("k < 5",),
        "UPDATE": ({"v": "v + 1"}, "k >= 15"),
        "MERGE": (spark.read.parquet(src), ["k"], {"v": "src_v"}),
    }[verb]
    want = fn(spark, call_t, *args, optimistic=optimistic)

    assert isinstance(got, MutationStats) and got == want
    assert got.files_total == 2 and got.rows_matched > 0

    def rows(p):
        return sorted(map(tuple, mor_mod.read_mor(spark, p).collect()))

    assert rows(text_t) == rows(call_t)


def test_locked_merge_refuses_a_relaxed_isolation(spark, cow_table):
    """A locked merge is single-writer: a relaxed isolation level would
    be silently meaningless, so the verb refuses it for every caller."""
    src = spark.createDataFrame([(1, 5.0)], "k long, v double")
    with pytest.raises(ValueError, match="only applies to optimistic=True"):
        merge_into(
            spark, cow_table, src, on=["k"], matched_set={"v": "src_v"},
            isolation="write_serializable",
        )
    assert spark.read.parquet(cow_table).where("k = 1").first()["v"] == 1.0
