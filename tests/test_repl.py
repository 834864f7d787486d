"""REPL (repl.py): the interactive twin of the reference CLI loop
(engine/src/cli.cpp:63-201 / sqlopt.cpp:727).

handle() returns the printed text, so these tests drive the full dispatch
— execute, explain-without-execute, optimize/trace/cost/advice render,
ATTACH + executed DML, error recovery — without subprocess plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_optimizer_cpp_spark.engine import Engine
from sql_query_optimizer_cpp_spark.repl import handle

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, sf_dir=SF_DIR)


def test_select_prints_rows(engine):
    out = handle(engine, "SELECT r_name FROM region ORDER BY r_name;", {})
    assert "AFRICA" in out and "(5 rows)" in out
    assert out.splitlines()[0].strip().startswith("r_name")


def test_row_limit_and_null_rendering(engine):
    out = handle(
        engine,
        "SELECT CAST(NULL AS INT) AS x FROM nation",
        {},
        max_rows=3,
    )
    assert "first 3 shown" in out and "NULL" in out


def test_explain_does_not_execute(engine):
    out = handle(engine, "EXPLAIN SELECT * FROM nation WHERE n_nationkey = 1", {})
    # plan text, not rows
    assert "Physical Plan" in out or "Scan" in out
    assert "ALGERIA" not in out


def test_optimize_trace_cost_advise(engine):
    q = (
        "SELECT n_name, COUNT(*) AS n FROM nation, region "
        "WHERE n_regionkey = r_regionkey GROUP BY n_name"
    )
    for verb in ("TRACE", "OPTIMIZE"):
        out = handle(engine, f"{verb} {q}", {})
        assert not out.startswith("error:"), out
        assert "[PredicatePushdown] PushDownPredicates:" in out
    assert "ExecutionPlan:" in handle(engine, f"OPTIMIZE {q}", {})
    assert "TOTAL" in handle(engine, f"COST {q}", {})
    adv = handle(engine, f"ADVISE {q}", {})
    assert "advised:" in adv and "JOIN" in adv


def test_attach_and_dml_roundtrip(engine, spark, tmp_path):
    path = str(tmp_path / "repl_cow")
    spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    ).coalesce(2).write.parquet(path)
    tables: dict[str, str] = {}
    out = handle(engine, f"ATTACH t {path}", tables)
    assert out.startswith("attached t")
    out = handle(engine, "UPDATE t SET v = 0.0 WHERE k < 10", tables)
    assert "10 rows matched" in out
    out = handle(engine, "DELETE FROM t WHERE k >= 90", tables)
    assert "10 rows matched" in out
    # the attached view reads the post-DML table
    spark.catalog.clearCache()
    out = handle(engine, f"ATTACH t {path}", tables)  # refresh view
    out = handle(engine, "SELECT COUNT(*) AS n FROM t WHERE v = 0.0", tables)
    assert "10" in out


def test_error_recovery_and_exit(engine):
    out = handle(engine, "SELECT definitely_not_a_column FROM region", {})
    assert out.startswith("error:")
    assert handle(engine, "HELP", {}).startswith("commands:")
    assert handle(engine, "", {}) == ""
    assert handle(engine, "exit", {}) is None
    assert handle(engine, "\\q", {}) is None


def test_tables_lists_views_and_attached(engine):
    out = handle(engine, "TABLES", {"cow": "/tmp/x"})
    assert "region" in out and "cow -> /tmp/x" in out


def test_engine_version_facade(engine, spark, tmp_path):
    path = str(tmp_path / "eng_ver")
    spark.range(50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    assert engine.enable_versioning(path) == 1
    engine.dml("DELETE FROM t WHERE k >= 40", {"t": path})
    assert engine.table_versions(path) == [1, 2]
    assert engine.read_version(path, 1).count() == 50
    assert engine.read_version(path).count() == 40
    # Engine.table is the always-correct reader (plain here; MOR-aware
    # on deletion-vector tables, covered in test_mor/test_repl MOR tests)
    assert engine.table(path).count() == 40
    # cross-table txn facade (r11): atomic commit + recovery passthrough
    path2 = str(tmp_path / "eng_ver2")
    spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path2)
    engine.enable_versioning(path2)
    with engine.begin_multi([path, path2]):
        engine.dml("DELETE FROM t WHERE k = 0", {"t": path})
        engine.dml("DELETE FROM u WHERE k = 0", {"u": path2})
    assert engine.table_versions(path) == [1, 2, 3]
    assert engine.table_versions(path2) == [1, 2]
    assert engine.recover_tables([path, path2]) == 0  # nothing to undo


def test_repl_versions_and_repair(engine, spark, tmp_path):
    path = str(tmp_path / "repl_ver")
    spark.range(30).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    tables: dict[str, str] = {}
    assert "ATTACH" in handle(engine, "VERSIONS t", tables)  # not attached yet
    handle(engine, f"ATTACH t {path}", tables)
    assert handle(engine, "VERSIONS t", tables).startswith(
        "versioning enabled on t"
    )
    handle(engine, "DELETE FROM t WHERE k < 5", tables)
    assert "versions 1..2" in handle(engine, "VERSIONS t", tables)
    assert handle(engine, "REPAIR t", tables).startswith("clean")
    assert handle(engine, "REPAIR", tables).startswith("usage:")


def test_repl_attach_and_verbs_survive_errors(engine):
    """r6 review regression: ATTACH/ANALYZE/VERSIONS/REPAIR errors must
    print 'error:' and re-prompt, not crash the loop; a failed ATTACH
    must not record the mapping."""
    tables: dict[str, str] = {}
    out = handle(engine, "ATTACH t /no/such/dir", tables)
    assert out.startswith("error:")
    assert "t" not in tables  # bogus mapping not recorded


def test_engine_sql_at_time_travel(engine, spark, tmp_path):
    """`<name> VERSION AS OF <n>` rebinds to the version log; plain names
    still resolve to fixture views; literals are never rewritten; the
    statement-scoped __tt_* views do not leak into the catalog."""
    path = str(tmp_path / "eng_tt")
    spark.range(20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    engine.enable_versioning(path)
    engine.dml("DELETE FROM t WHERE k >= 10", {"t": path})

    old = engine.sql_at(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 1", {"t": path}
    ).first()["n"]
    new = engine.sql_at(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 2", {"t": path}
    ).first()["n"]
    assert (old, new) == (20, 10)

    # join a pinned version against a live fixture view in one statement
    joined = engine.sql_at(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 1 CROSS JOIN region",
        {"t": path},
    ).first()["n"]
    assert joined == 20 * 5

    # a literal containing the clause text survives byte-for-byte
    lit = engine.sql_at(
        "SELECT 't VERSION AS OF 1' AS s FROM t VERSION AS OF 2 LIMIT 1",
        {"t": path},
    ).first()["s"]
    assert lit == "t VERSION AS OF 1"

    # plumbing views are statement-scoped
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__tt_")
    ]
    assert leftover == []

    with pytest.raises(ValueError, match="not in the tables mapping"):
        engine.sql_at("SELECT * FROM ghost VERSION AS OF 1", {"t": path})
    with pytest.raises(ValueError, match="no '<table> VERSION AS OF"):
        engine.sql_at("SELECT 1 AS one", {"t": path})


def test_engine_read_changes_facade(engine, spark, tmp_path):
    path = str(tmp_path / "eng_cdc")
    spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    engine.enable_versioning(path)
    engine.dml("UPDATE t SET v = v + 1 WHERE k = 0", {"t": path})
    ch = engine.read_changes(path, 1, 2)
    got = {(r["_change_type"], r["v"]) for r in ch.collect()}
    assert got == {("insert", 1.0), ("delete", 0.0)}


def test_repl_changes_and_time_travel(engine, spark, tmp_path):
    path = str(tmp_path / "repl_cdc")
    spark.range(8).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    handle(engine, "VERSIONS t", tables)
    handle(engine, "UPDATE t SET v = v * 10 WHERE k = 2", tables)

    out = handle(engine, "CHANGES t 1 2", tables)
    assert "insert" in out and "delete" in out and "(2 rows)" in out
    assert handle(engine, "CHANGES t", tables).startswith("usage:")
    assert handle(engine, "CHANGES ghost 1", tables).startswith("usage:")

    tt = handle(
        engine, "SELECT COUNT(*) AS n FROM t VERSION AS OF 1 WHERE v = 2", tables
    )
    assert tt.splitlines()[2].strip() == "1"
    # a literal mention is NOT a time-travel clause; the plain path runs
    lit = handle(engine, "SELECT 'x VERSION AS OF 1' AS s", tables)
    assert "x VERSION AS OF 1" in lit


def test_repl_constraint_verbs(engine, spark, tmp_path):
    path = str(tmp_path / "repl_cons")
    spark.range(9).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    assert handle(engine, "CONSTRAINT t LIST", tables) == "(no constraints)"
    assert "added" in handle(engine, "CONSTRAINT t ADD v_nonneg v >= 0", tables)
    assert "v_nonneg CHECK (v >= 0)" in handle(
        engine, "CONSTRAINT t LIST", tables
    )
    out = handle(engine, "UPDATE t SET v = v - 100 WHERE k < 3", tables)
    assert out.startswith("error:") and "v_nonneg" in out
    assert "dropped" in handle(engine, "CONSTRAINT t DROP v_nonneg", tables)
    assert "usage:" in handle(engine, "CONSTRAINT t ADD onlyname", tables)
    assert "usage:" in handle(engine, "CONSTRAINT ghost LIST", tables)


def test_engine_timestamp_as_of_sql(engine, spark, tmp_path):
    path = str(tmp_path / "eng_ts")
    spark.range(12).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    engine.enable_versioning(path)
    engine.dml("DELETE FROM t WHERE k >= 6", {"t": path})
    hist = engine.version_history(path)
    t1 = hist[0][1]
    old = engine.sql_at(
        f"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF '{t1}'", {"t": path}
    ).first()["n"]
    now = engine.sql_at(
        "SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF '9999-01-01'",
        {"t": path},
    ).first()["n"]
    assert (old, now) == (12, 6)
    # REPL routes the clause through the same gate
    tables = {"t": path}
    out = handle(
        engine,
        "SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF '9999-01-01'",
        tables,
    )
    assert out.splitlines()[2].strip() == "6"


def test_sql_at_no_view_leak_on_error(engine, spark, tmp_path):
    """Review regression (r8): a failing second clause must not leave the
    first clause's __tt_* view in the session catalog."""
    path = str(tmp_path / "eng_leak")
    spark.range(5).selectExpr("id AS k").coalesce(1).write.parquet(path)
    engine.enable_versioning(path)
    with pytest.raises(FileNotFoundError):
        engine.sql_at(
            "SELECT * FROM t VERSION AS OF 1 "
            "JOIN t VERSION AS OF 99 USING (k)",
            {"t": path},
        )
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__tt_")
    ]
    assert leftover == []


def test_repl_compact_verb(engine, spark, tmp_path):
    path = str(tmp_path / "repl_compact")
    spark.range(1000).selectExpr(
        "CAST(id % 10 AS DOUBLE) AS x", "CAST(id DIV 10 AS DOUBLE) AS y"
    ).repartition(6).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    out = handle(engine, "COMPACT t", tables)
    assert "files" in out or "rows" in out  # MutationStats render
    out = handle(engine, "COMPACT t ZORDER x,y", tables)
    assert not out.startswith("error:")
    assert spark.read.parquet(path).count() == 1000
    assert handle(engine, "COMPACT ghost", tables).startswith("usage:")
    assert handle(engine, "COMPACT t ZORDER", tables).startswith("usage:")


def test_repl_vacuum_and_version_history(engine, spark, tmp_path):
    path = str(tmp_path / "repl_vac")
    spark.range(40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    handle(engine, "VERSIONS t", tables)
    handle(engine, "DELETE FROM t WHERE k >= 30", tables)
    handle(engine, "UPDATE t SET v = v + 1 WHERE k < 3", tables)
    out = handle(engine, "VERSIONS t", tables)
    assert "versions 1..3" in out and "v3 committed 2" in out  # ISO year
    out = handle(engine, "VACUUM t KEEP 1", tables)
    assert "dropped 2 old version manifest(s)" in out
    assert "reclaimed" in out
    assert handle(engine, "VACUUM t KEEP 0", tables).startswith("usage:")
    assert handle(engine, "VACUUM ghost", tables).startswith("usage:")


def test_repl_restore_verb(engine, spark, tmp_path):
    path = str(tmp_path / "repl_restore")
    spark.range(50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        1
    ).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    handle(engine, "VERSIONS t", tables)                  # v1
    handle(engine, "DELETE FROM t WHERE k >= 40", tables)  # v2
    out = handle(engine, "RESTORE t 1", tables)
    assert "restored t to v1 as new v3" in out
    assert spark.read.parquet(path).count() == 50
    assert handle(engine, "RESTORE t 3", tables).endswith("no-op")
    assert handle(engine, "RESTORE t x", tables).startswith("usage:")
    assert handle(engine, "RESTORE ghost 1", tables).startswith("usage:")


def test_repl_index_verbs(engine, spark, tmp_path):
    path = str(tmp_path / "repl_idx")
    spark.range(2000).selectExpr(
        "id AS k", "CAST(hash(id) AS BIGINT) AS ref"
    ).repartition(4).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    out = handle(engine, "INDEX t BUILD ref", tables)
    assert "bloom index on t.ref: 4 files" in out
    ref = spark.read.parquet(path).where("k = 7").first()["ref"]
    out = handle(engine, f"INDEX t LOOKUP ref {ref}", tables)
    assert "(1 row)" in out
    out = handle(engine, "INDEX t STATS ref", tables)
    assert "indexed_files = 4" in out and "col_type = bigint" in out
    assert handle(engine, "INDEX t LOOKUP nope 1", tables).startswith("no bloom")
    assert handle(engine, "INDEX ghost BUILD ref", tables).startswith("usage:")
    assert handle(engine, "INDEX t LOOKUP ref", tables).startswith("usage:")


def test_repl_index_refresh(engine, spark, tmp_path):
    path = str(tmp_path / "repl_idx2")
    spark.range(800).selectExpr(
        "id AS k", "CAST(hash(id) AS BIGINT) AS ref", "CAST(1 AS DOUBLE) AS v"
    ).repartition(4).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    handle(engine, "INDEX t BUILD ref", tables)
    # r9: committed DML auto-refreshes the sidecar, so the manual verb
    # finds nothing left to do...
    handle(engine, "DELETE FROM t WHERE k = 5", tables)
    assert "already covers" in handle(engine, "INDEX t REFRESH ref", tables)
    # ...and still does the work itself when the hook is opted out
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        AUTO_REFRESH_INDEX_CONF,
    )

    spark.conf.set(AUTO_REFRESH_INDEX_CONF, "false")
    try:
        handle(engine, "DELETE FROM t WHERE k = 6", tables)
        out = handle(engine, "INDEX t REFRESH ref", tables)
        assert "indexed 1 new file(s)" in out
        assert "already covers" in handle(engine, "INDEX t REFRESH ref", tables)
    finally:
        spark.conf.set(AUTO_REFRESH_INDEX_CONF, "true")


def test_repl_index_lookup_bad_literal(engine, spark, tmp_path):
    path = str(tmp_path / "repl_idx3")
    spark.range(100).selectExpr(
        "id AS k", "CAST(hash(id) AS BIGINT) AS ref"
    ).coalesce(2).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    handle(engine, "INDEX t BUILD ref", tables)
    out = handle(engine, "INDEX t LOOKUP ref abc", tables)
    assert "does not parse" in out and "bigint" in out


def test_repl_set_mode_routes_dml(engine, spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mor import (
        has_deletion_vectors,
        read_mor,
    )

    path = str(tmp_path / "repl_mode")
    spark.range(60).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        2
    ).write.parquet(path)
    tables: dict[str, str] = {}
    settings: dict = {}
    handle(engine, f"ATTACH t {path}", tables, settings=settings)
    assert handle(engine, "SET MODE", tables, settings=settings) == "mode = cow"
    assert "usage:" in handle(engine, "SET MODE nope", tables, settings=settings)
    # non-MODE SET lines keep the Spark SQL passthrough
    out = handle(engine, "SET spark.sql.shuffle.partitions=7", tables, settings=settings)
    assert "usage:" not in out and "7" in out
    out = handle(engine, "SET MODE mor", tables, settings=settings)
    assert "merge-on-read" in out
    handle(engine, "DELETE FROM t WHERE k >= 50", tables, settings=settings)
    # merge-on-read: nothing rewritten, vectors carry the delete
    assert has_deletion_vectors(engine.spark, path)
    assert spark.read.parquet(path).count() == 60
    assert read_mor(engine.spark, path).count() == 50
    # textual MERGE routes to dv_merge_into in mor mode (r9)
    src = str(tmp_path / "repl_mode_src")
    spark.createDataFrame(
        [(1, 111.0), (200, 2.0)], "k long, v double"
    ).write.parquet(src)
    handle(engine, f"ATTACH s {src}", tables, settings=settings)
    files_before = set(spark.read.parquet(path).inputFiles())
    out = handle(
        engine,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT",
        tables,
        settings=settings,
    )
    assert "0/" in out  # zero files rewritten
    assert files_before <= set(spark.read.parquet(path).inputFiles())
    got = read_mor(engine.spark, path)
    assert got.where("k = 1").first()["v"] == 111.0
    assert got.where("k = 200").count() == 1
    out = handle(engine, "SET MODE occ", tables, settings=settings)
    assert "optimistically" in out
    # occ DML on a DV table is refused through the shared guard
    out = handle(engine, "DELETE FROM t WHERE k = 1", tables, settings=settings)
    assert "deletion vectors" in out


def test_repl_select_fresh_after_mor_dml(engine, spark, tmp_path):
    """A bare SELECT on an attached table must see merge-on-read DML:
    the view re-registers after every DML, applying deletion vectors."""
    path = str(tmp_path / "repl_morview")
    spark.range(50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        2
    ).write.parquet(path)
    tables: dict[str, str] = {}
    settings: dict = {}
    handle(engine, f"ATTACH tmv {path}", tables, settings=settings)
    handle(engine, "SET MODE mor", tables, settings=settings)
    handle(engine, "DELETE FROM tmv WHERE k >= 40", tables, settings=settings)
    out = handle(engine, "SELECT COUNT(*) AS n FROM tmv", tables, settings=settings)
    assert "40" in out and "50" not in out
    handle(engine, "UPDATE tmv SET v = 0 WHERE k < 3", tables, settings=settings)
    out = handle(
        engine, "SELECT COUNT(*) AS n FROM tmv WHERE v = 0", tables,
        settings=settings,
    )
    assert "(1 row)" in out and "3" in out
    # re-ATTACH of a DV-carrying table registers the MOR view directly
    handle(engine, f"ATTACH tmv2 {path}", tables, settings=settings)
    out = handle(engine, "SELECT COUNT(*) AS n FROM tmv2", tables, settings=settings)
    assert "40" in out


def test_repl_select_fresh_after_restore_and_compact(engine, spark, tmp_path):
    """RESTORE and COMPACT change the live file list too: a bare SELECT
    right after them must read the post-verb table, not a pinned
    pre-verb file list."""
    path = str(tmp_path / "repl_fresh2")
    spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").repartition(
        4
    ).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH tf {path}", tables)
    handle(engine, "VERSIONS tf", tables)                    # v1
    handle(engine, "DELETE FROM tf WHERE k >= 50", tables)   # v2
    handle(engine, "RESTORE tf 1", tables)                   # v3 == v1
    out = handle(engine, "SELECT COUNT(*) AS n FROM tf", tables)
    assert "100" in out
    handle(engine, "COMPACT tf", tables)
    out = handle(engine, "SELECT COUNT(*) AS n FROM tf", tables)
    assert "100" in out


def test_repl_index_drop_and_list(engine, spark, tmp_path):
    path = str(tmp_path / "repl_idx4")
    spark.range(100).selectExpr(
        "id AS k", "CAST(hash(id) AS BIGINT) AS ref"
    ).coalesce(2).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH t {path}", tables)
    assert "(no bloom indexes)" in handle(engine, "INDEX t LIST", tables)
    handle(engine, "INDEX t BUILD ref", tables)
    assert "bloom indexes: ref" in handle(engine, "INDEX t LIST", tables)
    assert "dropped" in handle(engine, "INDEX t DROP ref", tables)
    assert "no bloom index" in handle(engine, "INDEX t DROP ref", tables)
    assert "(no bloom indexes)" in handle(engine, "INDEX t LIST", tables)


def test_engine_sql_at_reads_deletion_vector_versions(engine, spark, tmp_path):
    """`VERSION AS OF` in SQL text over a merge-on-read history (r9
    unification): a version committed by dv_delete time-travels with the
    tombstones applied — no resurrection through the textual path."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
    )

    path = str(tmp_path / "sqlat_dv")
    spark.range(50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.parquet(path)
    enable_versioning(spark, path)                     # v1
    dv_delete_where(spark, path, "k >= 40")            # v2
    tables = {"t": path}
    n1 = engine.sql_at(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 1", tables
    ).first()["n"]
    n2 = engine.sql_at(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 2", tables
    ).first()["n"]
    assert (n1, n2) == (50, 40)
    # and a join of the two pinned versions isolates the tombstoned keys
    gone = engine.sql_at(
        "SELECT a.k FROM t VERSION AS OF 1 a "
        "LEFT ANTI JOIN t VERSION AS OF 2 b ON a.k = b.k",
        tables,
    )
    assert sorted(r["k"] for r in gone.collect()) == list(range(40, 50))


def test_repl_materialize_verb(engine, spark, tmp_path):
    from sql_query_optimizer_cpp_spark.operators.mor import (
        has_deletion_vectors,
    )

    path = str(tmp_path / "repl_matz")
    spark.range(40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(
        2
    ).write.parquet(path)
    tables: dict[str, str] = {}
    settings: dict = {}
    handle(engine, f"ATTACH t {path}", tables, settings=settings)
    handle(engine, "SET MODE mor", tables, settings=settings)
    handle(engine, "DELETE FROM t WHERE k >= 30", tables, settings=settings)
    assert has_deletion_vectors(engine.spark, path)
    out = handle(engine, "MATERIALIZE t", tables, settings=settings)
    assert "rewrote" in out
    assert not has_deletion_vectors(engine.spark, path)
    # the refreshed view serves the folded table
    out = handle(engine, "SELECT COUNT(*) AS n FROM t", tables, settings=settings)
    assert "30" in out
    assert "usage:" in handle(engine, "MATERIALIZE", tables, settings=settings)
    assert "usage:" in handle(
        engine, "MATERIALIZE t nope", tables, settings=settings
    )


def test_repl_transaction_verbs(engine, tmp_path):
    """BEGIN/COMMIT batch several DML statements into one version;
    ROLLBACK restores the table; the guard matrix reads as usage text."""
    path = str(tmp_path / "repl_txn")
    engine.spark.range(20).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    tables: dict[str, str] = {}
    settings: dict = {}
    assert "attached" in handle(engine, f"ATTACH tx {path}", tables)
    # guards: COMMIT/ROLLBACK with nothing open, BEGIN on unattached
    assert "no open transaction" in handle(
        engine, "COMMIT", tables, settings=settings
    )
    assert "no open transaction" in handle(
        engine, "ROLLBACK", tables, settings=settings
    )
    assert "usage: BEGIN" in handle(
        engine, "BEGIN nope", tables, settings=settings
    )
    # BEGIN auto-enables versioning, batches two verbs into ONE commit
    out = handle(engine, "BEGIN tx", tables, settings=settings)
    assert "transaction open" in out
    assert "already open" in handle(
        engine, "BEGIN tx", tables, settings=settings
    )
    handle(engine, "UPDATE tx SET v = v + 100 WHERE k < 2",
           tables, settings=settings)
    handle(engine, "DELETE FROM tx WHERE k = 19", tables, settings=settings)
    out = handle(engine, "COMMIT", tables, settings=settings)
    assert "committed as v2" in out and "2 verbs" in out
    assert engine.table_versions(path) == [1, 2]
    rows = handle(engine, "SELECT v FROM tx WHERE k = 0", tables,
                  settings=settings)
    assert "100.0" in rows
    # ROLLBACK: the batch vanishes, views refresh back
    handle(engine, "BEGIN tx", tables, settings=settings)
    handle(engine, "DELETE FROM tx WHERE k >= 0", tables, settings=settings)
    out = handle(engine, "ROLLBACK", tables, settings=settings)
    assert "rolled back" in out
    assert engine.table_versions(path) == [1, 2]
    rows = handle(engine, "SELECT COUNT(*) AS n FROM tx", tables,
                  settings=settings)
    assert "19" in rows  # 20 - the committed k=19 delete


def test_repl_multi_table_transaction(engine, tmp_path):
    """BEGIN t1, t2 opens a cross-table transaction: one atomic COMMIT
    across both tables, ROLLBACK restores both."""
    pa, pb = str(tmp_path / "mt_a"), str(tmp_path / "mt_b")
    for p in (pa, pb):
        engine.spark.range(10).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.parquet(p)
    tables: dict[str, str] = {}
    settings: dict = {}
    handle(engine, f"ATTACH ta {pa}", tables)
    handle(engine, f"ATTACH tb {pb}", tables)
    assert "usage: BEGIN" in handle(
        engine, "BEGIN ta, nope", tables, settings=settings
    )
    out = handle(engine, "BEGIN ta, tb", tables, settings=settings)
    assert "cross-table transaction open on ta,tb" in out
    assert "versioning enabled on ta, tb" in out
    handle(engine, "DELETE FROM ta WHERE k = 0", tables, settings=settings)
    handle(engine, "UPDATE tb SET v = -1.0 WHERE k < 3",
           tables, settings=settings)
    out = handle(engine, "COMMIT", tables, settings=settings)
    assert "committed atomically" in out and "2 tables" in out
    assert engine.table_versions(pa) == [1, 2]
    assert engine.table_versions(pb) == [1, 2]
    assert "9" in handle(engine, "SELECT COUNT(*) AS n FROM ta",
                         tables, settings=settings)
    # rollback leg: both tables restored, no versions committed
    handle(engine, "BEGIN ta, tb", tables, settings=settings)
    handle(engine, "DELETE FROM ta WHERE k >= 0", tables,
           settings=settings)
    handle(engine, "DELETE FROM tb WHERE k >= 0", tables,
           settings=settings)
    out = handle(engine, "ROLLBACK", tables, settings=settings)
    assert "rolled back" in out
    assert engine.table_versions(pa) == [1, 2]
    assert engine.table_versions(pb) == [1, 2]
    assert "9" in handle(engine, "SELECT COUNT(*) AS n FROM ta",
                         tables, settings=settings)
    # multi-table RECOVER usage line reachable
    out = handle(engine, "RECOVER ta, tb", tables, settings=settings)
    assert "recovered ta,tb" in out
    # crash-before-decision debris needs the explicit UNDECIDED token
    from sql_query_optimizer_cpp_spark.operators.storage import (
        _write_small_file,
    )
    from sql_query_optimizer_cpp_spark.operators.txn import _prep_path

    _write_small_file(
        engine.spark, _prep_path(pa, 3), b'{"add":[],"remove":[]}'
    )
    out = handle(engine, "RECOVER ta, tb", tables, settings=settings)
    assert "UNDECIDED" in out and "recovered" not in out
    out = handle(
        engine, "RECOVER ta, tb UNDECIDED", tables, settings=settings
    )
    assert "recovered ta,tb" in out
    assert "usage: RECOVER" in handle(  # single-table UNDECIDED refused
        engine, "RECOVER ta UNDECIDED", tables, settings=settings
    )


def test_repl_ivf_verbs(engine, tmp_path):
    """IVF BUILD/SEARCH/STATS/MAINTAIN drive the trained-quantizer ANN
    index from the prompt, including the staleness lifecycle; REFRESH is
    MAINTAIN under its older name."""
    from sql_query_optimizer_cpp_spark.catalog import load_tables

    from .conftest import SF_DIR

    emb = load_tables(engine.spark, SF_DIR, ("embeddings",))["embeddings"]
    path = str(tmp_path / "repl_ivf")
    emb.write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH e {path}", tables)
    assert "usage: IVF" in handle(engine, "IVF nope BUILD", tables)
    out = handle(engine, "IVF e BUILD", tables)
    assert "trained codebook" in out and "cell(s)" in out
    out = handle(engine, "IVF e STATS", tables)
    assert "indexed vector(s)" in out and "STALE" not in out
    out = handle(engine, "IVF e SEARCH 3 2", tables)
    assert "query_id" in out and "neighbor_id" in out
    out = handle(engine, "IVF e REFRESH", tables)
    assert "already covers" in out
    # corpus appends: STATS flags stale, SEARCH refuses, REFRESH mends
    emb.limit(4).selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(path)
    assert "STALE" in handle(engine, "IVF e STATS", tables)
    assert "error:" in handle(engine, "IVF e SEARCH 3", tables)
    assert "appended 4" in handle(engine, "IVF e REFRESH", tables)
    assert "STALE" not in handle(engine, "IVF e STATS", tables)
    assert "query_id" in handle(engine, "IVF e SEARCH 3", tables)
    # deletion vectors: REFRESH (= MAINTAIN) folds the tombstones in by
    # row identity
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    n_del = dv_delete_where(engine.spark, path, "vec_id % 9 = 2").rows_matched
    assert n_del > 0
    out = handle(engine, "IVF e REFRESH", tables)
    assert f"removed {n_del}" in out and "appended 0" in out
    assert "already covers" in handle(engine, "IVF e MAINTAIN", tables)
    assert "STALE" not in handle(engine, "IVF e STATS", tables)
    assert "query_id" in handle(engine, "IVF e SEARCH 3", tables)


def test_repl_commit_failure_keeps_handle(engine, tmp_path):
    """A failed COMMIT must not discard the REPL's txn handle: the
    library keeps the transaction open for retry (lock held, batch
    protected), and the REPL retry must reach it."""
    path = str(tmp_path / "repl_txn_fail")
    engine.spark.range(10).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    tables: dict[str, str] = {}
    settings: dict = {}
    handle(engine, f"ATTACH txf {path}", tables)
    out = handle(engine, "BEGIN txf", tables, settings=settings)
    assert "versioning enabled" in out  # BEGIN surfaces the side effect
    handle(engine, "DELETE FROM txf WHERE k = 0", tables, settings=settings)
    _, txn = settings["txn"]
    real_commit = txn.commit
    calls = {"n": 0}

    def flaky_commit():
        if calls["n"] == 0:
            calls["n"] += 1
            raise IOError("disk hiccup before the manifest write")
        return real_commit()

    txn.commit = flaky_commit
    out = handle(engine, "COMMIT", tables, settings=settings)
    assert "error:" in out and "disk hiccup" in out
    assert "txn" in settings  # handle survives; table is not wedged
    out = handle(engine, "COMMIT", tables, settings=settings)
    assert "committed as v2" in out
    rows = handle(engine, "SELECT COUNT(*) AS n FROM txf", tables,
                  settings=settings)
    assert "9" in rows


def test_repl_recover_verb(engine, tmp_path):
    """RECOVER rolls a crashed transaction (stale lock + uncommitted live
    state, no in-process handle) back to the last committed manifest."""
    from sql_query_optimizer_cpp_spark.operators.storage import _ACTIVE_TXNS
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        table_versions,
    )
    from sql_query_optimizer_cpp_spark.operators.txn import begin

    path = str(tmp_path / "repl_recover")
    engine.spark.range(30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    tables: dict[str, str] = {}
    settings: dict = {}
    handle(engine, f"ATTACH rc {path}", tables)
    assert "usage: RECOVER" in handle(
        engine, "RECOVER nope", tables, settings=settings
    )
    # crash-sim: a txn from a DIFFERENT (dead) session left its lock
    engine.enable_versioning(path)
    txn = begin(engine.spark, path)
    from sql_query_optimizer_cpp_spark.operators.mutate import delete_where

    delete_where(engine.spark, path, "k >= 0")
    _ACTIVE_TXNS.clear()  # the process died; lock + live state remain
    txn._states = None
    # plain RECOVER refuses while the lock file exists: deleting a
    # possibly-live writer's lock needs the explicit FORCE confirmation
    out = handle(engine, "RECOVER rc", tables, settings=settings)
    assert "RECOVER rc FORCE" in out and "recovered" not in out
    assert table_versions(engine.spark, path) == [1]  # untouched
    out = handle(engine, "RECOVER rc nope", tables, settings=settings)
    assert "usage: RECOVER" in out
    out = handle(engine, "RECOVER rc FORCE", tables, settings=settings)
    assert "recovered rc" in out and "stale writer lock cleared" in out
    assert table_versions(engine.spark, path) == [1]
    rows = handle(engine, "SELECT COUNT(*) AS n FROM rc", tables,
                  settings=settings)
    assert "30" in rows
    # an OPEN same-session transaction is refused (resolve it instead)
    handle(engine, "BEGIN rc", tables, settings=settings)
    out = handle(engine, "RECOVER rc", tables, settings=settings)
    assert "still open in THIS session" in out
    handle(engine, "ROLLBACK", tables, settings=settings)


def test_repl_ivfpq_verbs(engine, tmp_path):
    """(r13, +MAINTAIN r14) IVFPQ BUILD/MAINTAIN/SEARCH/STATS drive the
    quantized serving index from the prompt: drift flags stale, a
    rebuild OR an incremental maintain clears it."""
    from sql_query_optimizer_cpp_spark.catalog import load_tables

    from .conftest import SF_DIR

    emb = load_tables(engine.spark, SF_DIR, ("embeddings",))["embeddings"]
    path = str(tmp_path / "repl_ivfpq")
    emb.write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH e {path}", tables)
    assert "usage: IVFPQ" in handle(engine, "IVFPQ nope BUILD", tables)
    assert "no ivfpq index" in handle(engine, "IVFPQ e STATS", tables)
    out = handle(engine, "IVFPQ e BUILD", tables)
    assert "coarse codebook" in out and "codes-only" in out
    out = handle(engine, "IVFPQ e STATS", tables)
    assert "indexed vector(s)" in out and "STALE" not in out
    out = handle(engine, "IVFPQ e SEARCH 3 2", tables)
    assert "query_id" in out and "neighbor_id" in out
    # drift: STATS flags stale with the rebuild hint, SEARCH refuses
    emb.limit(4).selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(path)
    assert "STALE" in handle(engine, "IVFPQ e STATS", tables)
    assert "error:" in handle(engine, "IVFPQ e SEARCH 3", tables)
    out = handle(engine, "IVFPQ e BUILD", tables)
    assert "coarse codebook" in out
    assert "STALE" not in handle(engine, "IVFPQ e STATS", tables)
    assert "query_id" in handle(engine, "IVFPQ e SEARCH 3", tables)
    # incremental path (r14): drift again, MAINTAIN folds it in place —
    # codebooks untouched, no rebuild — and clears the stale flag
    emb.limit(3).selectExpr(
        "vec_id + 2000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(path)
    assert "STALE" in handle(engine, "IVFPQ e STATS", tables)
    out = handle(engine, "IVFPQ e MAINTAIN", tables)
    assert "appended 3" in out and "codebooks untouched" in out
    assert "STALE" not in handle(engine, "IVFPQ e STATS", tables)
    assert "query_id" in handle(engine, "IVFPQ e SEARCH 3", tables)
    out = handle(engine, "IVFPQ e MAINTAIN", tables)
    assert "already covers" in out
