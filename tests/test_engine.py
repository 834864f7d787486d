"""Golden rewrite tests: each reference optimization (SURVEY.md §4.1) must
be *observable in the Catalyst plan*, and the transform log must report the
optimizer rules Catalyst's tracker recorded — plus engine surface checks
(explain/cost/stats)."""

from __future__ import annotations

import re

import pytest

from sql_query_optimizer_cpp_spark.engine import Engine
from sql_query_optimizer_cpp_spark.plans.explain import explain_tree
from sql_query_optimizer_cpp_spark.plans.trace import (
    build_transform_log,
    plan_strings,
    rule_summaries,
)

from .conftest import SF_DIR

FLAGSHIP = """
SELECT c.c_custkey, c.c_name,
 (SELECT n_name FROM nation n WHERE n.n_nationkey = c.c_nationkey) AS party_name
FROM customer c, orders o
WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 3000 AND 1=1
LIMIT 10
"""


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_DIR)


def test_r1_comma_join_conversion(engine):
    plans = plan_strings(engine.sql(
        "SELECT c.c_name, o.o_orderkey FROM customer c, orders o "
        "WHERE c.c_custkey = o.o_custkey"
    ))
    # analyzed: bare inner join + filter above; optimized: equi-join condition
    assert "Join Inner, (c_custkey" in plans["optimized"] or (
        "Join Inner, (o_custkey" in plans["optimized"]
    )
    assert "Filter (c_custkey" not in plans["optimized"].split("Join")[0]


def test_r2_scalar_subquery_decorrelated(engine):
    plans = plan_strings(engine.sql(
        "SELECT c_custkey, (SELECT n_name FROM nation n "
        "WHERE n.n_nationkey = c.c_nationkey) AS nn FROM customer c"
    ))
    assert "scalar-subquery" in plans["analyzed"]
    assert "scalar-subquery" not in plans["optimized"]
    # Spark 4 plans decorrelated scalar subqueries as LeftSingle (a left
    # outer join guaranteeing <=1 match); older versions used LeftOuter
    assert "LeftSingle" in plans["optimized"] or "LeftOuter" in plans["optimized"]


def test_r3_predicate_pushdown_reaches_scan(engine):
    plans = plan_strings(engine.sql(
        "SELECT c.c_name FROM customer c JOIN orders o "
        "ON c.c_custkey = o.o_custkey WHERE c.c_acctbal > 5000"
    ))
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,5000.0)" in plans[
        "physical"
    ].replace("GreaterThan(c_acctbal, 5000.0)", "GreaterThan(c_acctbal,5000.0)")


def test_r4_column_pruning(engine):
    plans = plan_strings(
        engine.sql("SELECT c_custkey FROM customer WHERE c_acctbal > 0")
    )
    # 5-column table read as 2 columns (key + filter column)
    assert "ReadSchema: struct<c_custkey:bigint,c_acctbal:double>" in plans["physical"]


def test_r5_constant_folding(engine):
    plans = plan_strings(
        engine.sql("SELECT c_custkey FROM customer WHERE 1=1 AND c_custkey = 7")
    )
    assert "1 = 1" not in plans["optimized"]


def test_transform_log_flagship(engine):
    log = engine.transform_log(FLAGSHIP)
    stages = log.stages()
    assert "SubqueryRewrite" in stages
    assert "PredicatePushdown" in stages
    assert "ProjectionPushdown" in stages
    assert "ConstantFolding" in stages


def test_transform_log_times_each_rule_from_the_tracker(engine):
    df = engine.sql(FLAGSHIP)
    log = build_transform_log(df)
    tracker = df._jdf.queryExecution().tracker()
    # every rule in the tracker's map was parsed, and no physical planning ran
    assert len(rule_summaries(df)) == tracker.rules().size()
    assert "planning" not in tracker.phases().toString()
    for e in log.entries:
        rule = e.detail.split(":")[0]
        summary = tracker.rules().apply(
            f"org.apache.spark.sql.catalyst.optimizer.{rule}"
        )
        assert summary.numEffectiveInvocations() > 0
        assert e.millis == summary.totalTimeNs() / 1e6
    assert len({e.millis for e in log.entries}) > 1


def test_transform_log_full_width_read_prunes_nothing(engine):
    assert "ProjectionPushdown" not in engine.transform_log(
        "SELECT * FROM nation"
    ).stages()


def test_optimize_plans_the_query_sql_runs(engine):
    # expression ids differ between two plannings of the same text
    def ids_out(tree: str) -> str:
        return re.sub(r"#\d+", "#", tree)

    assert ids_out(engine.optimize(FLAGSHIP).plan_tree) == ids_out(
        explain_tree(engine.sql(FLAGSHIP))
    )


def test_optimize_report_without_execution(engine):
    report = engine.optimize(FLAGSHIP)
    text = report.render()
    assert "ExecutionPlan:" in text
    assert "Join" in report.plan_tree


def test_explain_tree_has_stats(engine):
    tree = engine.explain(
        "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment"
    )
    assert "=== Optimized Logical Plan (with stats) ===" in tree
    assert "size=" in tree  # sizeInBytes always present
    assert "Aggregate" in tree


def test_cost_report_components(engine):
    report = engine.cost(
        "SELECT c.c_name, count(*) AS n FROM customer c JOIN orders o "
        "ON c.c_custkey = o.o_custkey GROUP BY c.c_name ORDER BY n DESC"
    )
    assert len(report.nodes) >= 3
    total = report.total
    assert total.cpu > 0
    assert total.total > 0
    rendered = report.render()
    assert "TOTAL" in rendered


def test_analyze_and_stats_readback(engine):
    engine.analyze(("region",))
    stats = engine.table_stats("region")
    assert "statistics" in stats
    assert "rows" in stats["statistics"] or "bytes" in stats["statistics"]


def test_analysis_error_is_helpful(engine):
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException) as e:
        engine.sql("SELECT c_custkeyy FROM customer").collect()
    assert "c_custkey" in str(e.value)  # Spark suggests the correct column


def test_update_delete_parity(engine, spark):
    """S7/S8: the reference parses UPDATE/DELETE but never executes them
    (engine/src/parser.cpp:232-296, cli skips execution).  Spark's parser
    likewise accepts them; execution against a non-transactional parquet
    table is refused with a clear error — same parse-only surface."""
    from pyspark.errors.exceptions.captured import (
        AnalysisException,
        UnsupportedOperationException,
    )

    refused = (AnalysisException, UnsupportedOperationException)
    spark.sql("DROP TABLE IF EXISTS upd_test")
    engine.frame("region").write.saveAsTable("upd_test")
    with pytest.raises(refused):
        spark.sql("UPDATE upd_test SET r_name = 'X' WHERE r_regionkey = 0")
    with pytest.raises(refused):
        spark.sql("DELETE FROM upd_test WHERE r_regionkey = 0")
    # the table is untouched
    assert spark.table("upd_test").count() == engine.frame("region").count()
    spark.sql("DROP TABLE IF EXISTS upd_test")


def test_hash64_tri_engine_portability(spark, duck):
    """The portable 60-bit hash (md5-prefix) must agree across Python,
    Spark, and DuckDB on edge-case inputs — it underpins every dedup/LSH
    oracle, so a single divergent input would silently break parity."""
    import hashlib

    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.functions import hash64, hash64_sql

    cases = [
        "",
        " ",
        "  leading and trailing  ",
        "the quick brown fox",
        "naïve café résumé",          # latin-1-ish accents
        "日本語のテキスト",              # CJK
        "emoji 🙂🚀 mix",
        "tab\tand'quote\"chars",
        "0",
        "a" * 1000,
    ]
    py = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in cases]
    sdf = spark.createDataFrame([(s,) for s in cases], ["s"])
    sp = [r.h for r in sdf.select(hash64(F.col("s")).alias("h")).collect()]
    dk = [
        duck.sql(
            f"SELECT {hash64_sql('s')} AS h FROM (SELECT ? AS s)", params=[s]
        ).fetchone()[0]
        for s in cases
    ]
    assert sp == py, "spark hash64 diverges from python md5 reference"
    assert dk == py, "duckdb hash64_sql diverges from python md5 reference"


def test_analyze_tables_rematerializes_on_sf_dir_change(spark, tmp_path):
    """A second analyze_tables with a DIFFERENT sf_dir must re-materialize
    the stats_ tables — previously the name-exists check silently served
    (and ANALYZEd) the first directory forever (review finding)."""
    from sql_query_optimizer_cpp_spark import catalog as C

    C.analyze_tables(spark, SF_DIR, names=("region",))
    n_before = spark.table("stats_region").count()

    alt = str(tmp_path)
    spark.read.parquet(C.table_path(SF_DIR, "region")).limit(2).write.mode(
        "overwrite"
    ).parquet(f"{alt}/region.parquet")
    C.analyze_tables(spark, alt, names=("region",))
    assert spark.table("stats_region").count() == 2
    # and switching back re-materializes again
    C.analyze_tables(spark, SF_DIR, names=("region",))
    assert spark.table("stats_region").count() == n_before


def test_engine_dml_executes(engine, spark, tmp_path):
    """S7/S8 through the Engine facade: the reference's parse-only verbs
    execute here, against explicit paths (never the fixture views)."""
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id AS k", "id * 2.0 AS v").write.parquet(path)
    st = engine.dml("DELETE FROM t WHERE k >= 8", {"t": path})
    assert st.rows_matched == 2
    st = engine.dml("UPDATE t SET v = 0.0 WHERE k = 0", {"t": path})
    assert st.rows_matched == 1
    back = spark.read.parquet(path)
    assert back.count() == 8
    assert back.where("k = 0").first()["v"] == 0.0
