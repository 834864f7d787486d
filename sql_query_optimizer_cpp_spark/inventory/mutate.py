"""Graded copy-on-write DML queries (operators/mutate.py).

The reference parses UPDATE/DELETE and stops (engine/src/parser.cpp:232-296,
cli skips DML execution).  These queries EXECUTE the verbs against a
freshly-materialized parquet copy of a fixture table, then aggregate the
mutated table; the DuckDB oracle computes the same aggregate directly from
the ORIGINAL fixture with the mutation folded in algebraically
(DELETE → NOT COALESCE(pred, FALSE) filter — NULL-faithful, matching the
executed verb's three-valued keep rule — UPDATE → CASE, MERGE → LEFT JOIN
+ anti UNION).
Equality therefore proves the executed COW semantics end-to-end: predicate
three-valued logic, file swap losslessness, schema stability of rewritten
files, and upsert matched/unmatched routing.

Layout note: the COW copy is written range-clustered on the mutation key
(``repartitionByRange``), so ``affected_files`` prunes at file granularity —
the same layout discipline that makes a point-DELETE a one-file rewrite at
100 TB.  Each run rebuilds the copy (mode=overwrite) so the query is
idempotent across test + driver replays in one session.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ..catalog import load_tables
from ..functions import dsum, dsum_sql, values_df
from ..operators.mutate import compact, delete_where, merge_into, update_where
from ..operators.dml_sql import execute_dml


def _mut_dir(sf_dir: str, leaf: str) -> str:
    # keyed by sf AND pid: a pytest run and a sim replay racing on one
    # shared COW dir would see overwrite-vs-read FileNotFound flakes (the
    # writer lock guards the DML verbs, not the base-copy rebuild)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(), f"sqos_mut_{tag}_{os.getpid()}", leaf
    )


@register(
    "mutate_update_delete",
    oracle="SELECT o_orderstatus, "
    "CASE WHEN o_totalprice > 300000 THEN '1-URGENT' ELSE o_orderpriority END "
    "AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("o_totalprice")
    + " AS total FROM orders "
    "WHERE NOT COALESCE(o_orderstatus = 'F' AND o_totalprice < 50000, FALSE) "
    "GROUP BY 1, 2 ORDER BY 1, 2",
    doc="S7/S8 executed (beyond the reference's parse-only surface): DELETE "
    "then UPDATE run copy-on-write against a range-clustered parquet copy "
    "of orders; the aggregate of the mutated table must equal the oracle's "
    "algebraic fold (NOT COALESCE(pred, FALSE) filter + CASE) over the "
    "original fixture — "
    "proving three-valued DELETE logic, the stage-then-swap file exchange, "
    "and that rewritten files keep the untouched files' schema",
    tags=("mutate", "sources"),
)
def mutate_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_cow")
    (
        t["orders"]
        .repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    # range-clustered on o_totalprice -> both predicates prune to a strict
    # subset of the 8 files (footer min/max), the point of the layout
    delete_where(spark, path, "o_orderstatus = 'F' AND o_totalprice < 50000")
    update_where(
        spark, path, {"o_orderpriority": "'1-URGENT'"}, "o_totalprice > 300000"
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "mutate_merge_upsert",
    oracle="WITH spend AS (SELECT o_custkey, "
    + dsum_sql("o_totalprice")
    + " AS spend FROM orders GROUP BY o_custkey), "
    "src AS (SELECT o_custkey AS c_custkey, spend FROM spend "
    "UNION ALL SELECT o_custkey + 1000000, spend FROM spend "
    "WHERE o_custkey < 20), "
    "merged AS ("
    "SELECT CASE WHEN s.c_custkey IS NOT NULL THEN s.spend ELSE c.c_acctbal "
    "END AS c_acctbal, c.c_mktsegment "
    "FROM customer c LEFT JOIN src s ON c.c_custkey = s.c_custkey "
    "UNION ALL "
    "SELECT s.spend, 'MERGED' FROM src s LEFT JOIN customer c "
    "ON s.c_custkey = c.c_custkey WHERE c.c_custkey IS NULL) "
    "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment",
    doc="MERGE INTO executed copy-on-write: per-customer spend (derived "
    "from orders, unique keys by construction) upserts into a parquet "
    "copy of customer — matched rows get c_acctbal := spend via a "
    "key-semijoin file prune, unmatched source keys (+1000000 shifted) "
    "append as new 'MERGED'-segment rows without touching any existing "
    "file; oracle folds the same upsert as LEFT JOIN + anti-join UNION",
    tags=("mutate", "sources"),
)
def mutate_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    path = _mut_dir(sf_dir, "customer_cow")
    (
        t["customer"]
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    spend = t["orders"].groupBy("o_custkey").agg(dsum("o_totalprice").alias("spend"))
    source = spend.select(F.col("o_custkey").alias("c_custkey"), "spend").unionAll(
        spend.where(F.col("o_custkey") < 20).select(
            (F.col("o_custkey") + 1000000).alias("c_custkey"), "spend"
        )
    )
    merge_into(
        spark,
        path,
        source,
        on=["c_custkey"],
        matched_set={"c_acctbal": "src_spend"},
        insert_values={"c_acctbal": "src_spend", "c_mktsegment": "'MERGED'"},
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "mutate_compact_stable",
    oracle="SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents "
    "WHERE NOT COALESCE(lang = 'en' AND n_chars < 300, FALSE) "
    "GROUP BY source ORDER BY source",
    doc="OPTIMIZE-style compaction graded end-to-end: documents written "
    "deliberately fragmented (16 small files), point-DELETEd copy-on-write, "
    "then bin-packed by compact() — the aggregate must still equal the "
    "oracle's algebraic fold of the DELETE alone, proving compaction moves "
    "bytes without creating/dropping/duplicating a single row (the "
    "small-file problem is THE steady-state failure mode of a COW table "
    "under streaming appends + point DML at 100 TB)",
    tags=("mutate", "sources"),
)
def mutate_compact_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    path = _mut_dir(sf_dir, "documents_frag")
    t["documents"].repartition(16).write.mode("overwrite").parquet(path)
    delete_where(spark, path, "lang = 'en' AND n_chars < 300")
    st = compact(spark, path, target_bytes=32 * 1024 * 1024)
    if st.files_rewritten and len(spark.read.parquet(path).inputFiles()) >= 16:
        raise AssertionError("compaction did not reduce the file count")
    back = spark.read.parquet(path)
    return (
        back.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "mutate_dml_sql",
    oracle="SELECT CASE WHEN n_chars > 2000 THEN 'xx' ELSE lang END AS lang, "
    "CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_patched "
    "FROM documents WHERE NOT COALESCE(n_chars < 200, FALSE) "
    "GROUP BY 1 ORDER BY 1",
    doc="The textual DML front-end end-to-end (parser parity with "
    "engine/src/parser.cpp:232-296, plus execution the reference never "
    "does): 'DELETE FROM docs WHERE ...', 'UPDATE docs SET ... WHERE ...' "
    "and a three-clause 'MERGE INTO docs USING patch' (matched update to "
    "source='patched'; no NOT-MATCHED clause, so patch rows whose doc was "
    "deleted must be no-ops) parsed from SQL text and executed "
    "copy-on-write against a documents copy; oracle folds all three "
    "statements algebraically",
    tags=("mutate",),
)
def mutate_dml_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    path = _mut_dir(sf_dir, "documents_cow")
    (
        t["documents"]
        .repartitionByRange(4, "n_chars")
        .sortWithinPartitions("n_chars")
        .write.mode("overwrite")
        .parquet(path)
    )
    patch_path = _mut_dir(sf_dir, "documents_patch")
    (
        t["documents"]
        .where(F.col("doc_id") % 97 == 0)
        .select("doc_id", F.lit("patched").alias("new_source"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(patch_path)
    )
    tables = {"docs": path, "patch": patch_path}
    execute_dml(spark, "DELETE FROM docs WHERE n_chars < 200", tables)
    execute_dml(spark, "UPDATE docs SET lang = 'xx' WHERE n_chars > 2000", tables)
    execute_dml(
        spark,
        "MERGE INTO docs AS d USING patch AS p ON d.doc_id = p.doc_id "
        "WHEN MATCHED THEN UPDATE SET source = p.new_source",
        tables,
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.when(F.col("source") == "patched", 1).otherwise(0))
            .cast("long")
            .alias("n_patched"),
        )
        .orderBy("lang")
    )


@register(
    "mutate_partitioned_delete",
    oracle="SELECT CASE WHEN n_chars > 1500 THEN 'long' ELSE 'short' END "
    "AS bucket, lang, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM documents WHERE NOT COALESCE(lang = 'en' AND n_chars < 500, FALSE) "
    "GROUP BY 1, 2 ORDER BY 1, 2",
    doc="Partitioned copy-on-write DML graded end-to-end: documents "
    "written hive-partitioned by lang, then DELETE WHERE lang = 'en' AND "
    "n_chars < 500 — the prune runs over the partitioned read so the "
    "partition-column predicate prunes every non-en directory before any "
    "footer is opened, and only en's files swap (per-partition rewrite, "
    "partition column reconstructed via basePath).  The aggregate over "
    "the mutated table must equal the oracle's algebraic fold, proving "
    "the partition column survives the rewrite exactly",
    tags=("mutate", "sources"),
)
def mutate_partitioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    path = _mut_dir(sf_dir, "documents_bylang")
    (
        t["documents"]
        .repartition(2)
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    delete_where(spark, path, "lang = 'en' AND n_chars < 500")
    back = spark.read.parquet(path)
    return (
        back.groupBy(
            F.when(F.col("n_chars") > 1500, "long")
            .otherwise("short")
            .alias("bucket"),
            "lang",
        )
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("bucket", "lang")
    )


@register(
    "mutate_snapshot_diff",
    oracle="SELECT 'live' AS version, lang, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM documents WHERE NOT COALESCE(lang = 'en' AND n_chars < 400, FALSE) GROUP BY lang "
    "UNION ALL "
    "SELECT 'v1', lang, CAST(COUNT(*) AS BIGINT) FROM documents GROUP BY lang "
    "ORDER BY version, lang",
    doc="Snapshot + time travel graded end-to-end: pin v1, DELETE with "
    "retain=True (superseded files retire instead of deleting), then "
    "aggregate BOTH the live table and the v1 time-travel read in one "
    "result — the oracle computes v1 from the untouched fixture and live "
    "from the algebraic fold, so equality proves the pinned manifest "
    "reconstructs the pre-DML table exactly while the live read sees the "
    "mutation (a consistent version IS a file list under COW)",
    tags=("mutate", "sources"),
)
def mutate_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import create_snapshot, read_snapshot

    t = load_tables(spark, sf_dir, ("documents",))
    path = _mut_dir(sf_dir, "documents_ttravel")
    (
        t["documents"]
        .repartitionByRange(4, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    create_snapshot(spark, path, "v1")
    delete_where(spark, path, "lang = 'en' AND n_chars < 400", retain=True)
    live = (
        spark.read.parquet(path)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(F.lit("live").alias("version"), "lang", "n_docs")
    )
    v1 = (
        read_snapshot(spark, path, "v1")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(F.lit("v1").alias("version"), "lang", "n_docs")
    )
    return live.unionAll(v1).orderBy("version", "lang")


@register(
    "mutate_apply_changes",
    oracle="WITH base AS ("
    "  SELECT c_custkey, c_mktsegment, "
    "    CASE WHEN c_custkey BETWEEN 30 AND 40 THEN c_custkey * 100.0 "
    "         WHEN c_custkey < 30 THEN c_custkey * 10.0 "
    "         ELSE c_acctbal END AS acctbal "
    "  FROM customer WHERE c_custkey >= 10), "
    "ins AS (SELECT c_custkey + 1000000 AS c_custkey, "
    "  CAST(NULL AS VARCHAR) AS c_mktsegment, c_custkey * 10.0 AS acctbal "
    "  FROM customer WHERE c_custkey < 5), "
    "final AS (SELECT * FROM base UNION ALL SELECT * FROM ins) "
    "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("acctbal")
    + " AS total FROM final GROUP BY c_mktsegment ORDER BY c_mktsegment",
    doc="CDC APPLY CHANGES graded end-to-end (batch twin of "
    "streaming/upsert.py): two deterministic change batches — upserts at "
    "ts=10 (updates for custkey<30, inserts at +1000000 for custkey<5), "
    "then tombstones at ts=20 for custkey<10 plus a STALE ts=5 update "
    "wave for 20..40 — merge into a versioned customer copy.  The stale "
    "wave must lose against rows already updated at ts=10 (20..29) and "
    "win against seed rows at ts=0 (30..40); the oracle folds exactly "
    "that last-writer-wins outcome, proving event-time ordering, "
    "tombstones, and insert routing in one result",
    tags=("mutate", "streaming"),
)
def mutate_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.upsert import apply_changes_batch

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "customer_cdc")
    cust = t["customer"]
    (
        cust.select(
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "c_mktsegment",
            F.lit(0).cast("long").alias("ts"),
        )
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    keys = cust.select("c_custkey")
    b1 = keys.where("c_custkey < 30").select(
        "c_custkey",
        F.lit("U").alias("op"),
        (F.col("c_custkey") * 10.0).alias("c_acctbal"),
        F.lit(10).cast("long").alias("ts"),
    ).unionAll(
        keys.where("c_custkey < 5").select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.lit("U").alias("op"),
            (F.col("c_custkey") * 10.0).alias("c_acctbal"),
            F.lit(10).cast("long").alias("ts"),
        )
    )
    b2 = keys.where("c_custkey < 10").select(
        "c_custkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(20).cast("long").alias("ts"),
    ).unionAll(
        keys.where("c_custkey BETWEEN 20 AND 40").select(
            "c_custkey",
            F.lit("U").alias("op"),
            (F.col("c_custkey") * 100.0).alias("c_acctbal"),
            F.lit(5).cast("long").alias("ts"),
        )
    )
    for batch in (b1, b2):
        apply_changes_batch(spark, batch, path, on=["c_custkey"])
    back = spark.read.parquet(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "mutate_partitioned_merge",
    oracle="WITH src AS ("
    "SELECT o_orderkey AS k, o_totalprice AS boost FROM orders "
    "WHERE o_orderkey % 97 = 0 AND o_orderkey < 30000 "
    "UNION ALL "
    "SELECT o_orderkey + 100000000, o_totalprice FROM orders "
    "WHERE o_orderkey % 97 = 0 AND o_orderkey < 5000), "
    "merged AS ("
    "SELECT o.o_orderstatus, "
    "CASE WHEN s.k IS NOT NULL THEN o.o_totalprice + s.boost "
    "ELSE o.o_totalprice END AS o_totalprice "
    "FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k "
    "UNION ALL "
    "SELECT 'X', s.boost FROM src s LEFT JOIN orders o "
    "ON s.k = o.o_orderkey WHERE o.o_orderkey IS NULL) "
    "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("o_totalprice")
    + " AS total FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus",
    doc="MERGE INTO over a HIVE-PARTITIONED copy-on-write table (new r6 — "
    "previously refused): orders materialized partitioned by "
    "o_orderstatus and range-clustered on o_orderkey within each "
    "directory; matched keys (every 97th under 30000) boost "
    "o_totalprice via per-partition file swaps, unmatched shifted keys "
    "insert into a brand-new 'X' partition directory.  The aggregate of "
    "the mutated table must equal the oracle's algebraic fold (LEFT "
    "JOIN + anti-join UNION) over the original fixture — proving the "
    "per-partition swap keeps directory-encoded partition values "
    "intact, the key-semijoin prune composes with partition layout, and "
    "partitionBy insert staging routes new rows (including a new "
    "partition value) to the right key=value dirs",
    tags=("mutate", "sources"),
)
def mutate_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_part_cow")
    (
        t["orders"]
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    orders = t["orders"]
    matched_src = orders.where(
        "o_orderkey % 97 = 0 AND o_orderkey < 30000"
    ).select("o_orderkey", F.col("o_totalprice").alias("boost"))
    ins_src = orders.where(
        "o_orderkey % 97 = 0 AND o_orderkey < 5000"
    ).select(
        (F.col("o_orderkey") + F.lit(100000000)).alias("o_orderkey"),
        F.col("o_totalprice").alias("boost"),
    )
    merge_into(
        spark,
        path,
        matched_src.unionByName(ins_src),
        on=["o_orderkey"],
        matched_set={"o_totalprice": "o_totalprice + src_boost"},
        insert_values={
            "o_totalprice": "src_boost",
            "o_orderstatus": "'X'",
        },
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "mutate_versioned_history",
    oracle="SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM customer "
    "UNION ALL "
    "SELECT 2, CAST(COUNT(*) AS BIGINT), " + dsum_sql("c_acctbal") + " "
    "FROM customer WHERE NOT COALESCE(c_acctbal < 0, FALSE) "
    "UNION ALL "
    "SELECT 3, CAST(COUNT(*) AS BIGINT), "
    + dsum_sql(
        "CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * 2 "
        "ELSE c_acctbal END"
    )
    + " FROM customer WHERE NOT COALESCE(c_acctbal < 0, FALSE) "
    "ORDER BY version",
    doc="Version log / MVCC-for-readers graded end-to-end (new r6): "
    "enable_versioning pins v1 of a customer copy, a DELETE commits v2 "
    "and an UPDATE commits v3 (each inside the writer lock), then ALL "
    "THREE versions are read back via read_version and aggregated in one "
    "result.  The oracle folds each version's state algebraically from "
    "the original fixture, so equality proves the auto-committed "
    "manifests pin exact bytes: v1 still shows pre-DML data after two "
    "later mutations (snapshot isolation for readers), v2 shows the "
    "three-valued DELETE only, v3 both",
    tags=("mutate",),
)
def mutate_versioned_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import enable_versioning, read_version

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_ver")
    (
        t["customer"]
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)
    delete_where(spark, path, "c_acctbal < 0")                      # v2
    update_where(
        spark, path, {"c_acctbal": "c_acctbal * 2"}, "c_mktsegment = 'BUILDING'"
    )                                                               # v3
    frames = [
        read_version(spark, path, v)
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n", "total")
        for v in (1, 2, 3)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("version")


# -- staged for the r08 grading window (registered past the 50-query
# -- r07 _PRIORITY window; sim-covered every round regardless) ---------------

_OCC_ORACLE = (
    "WITH f AS (SELECT c_custkey, c_acctbal AS b1, "
    "  CASE WHEN c_custkey > (SELECT MAX(c_custkey) - 3 FROM customer) "
    "  THEN c_acctbal + 1000 ELSE c_acctbal END AS b2 FROM customer), "
    "g AS (SELECT c_custkey, b1, b2, "
    "  CASE WHEN c_custkey < (SELECT MIN(c_custkey) + 3 FROM customer) "
    "  THEN b2 + 100 ELSE b2 END AS b3 FROM f), "
    "h AS (SELECT c_custkey, b1, b2, b3, "
    "  CASE WHEN c_custkey % 2 = 1 THEN b3 + 7 ELSE b3 END AS b4 FROM g), "
    "i AS (SELECT c_custkey, b1, b2, b3, b4, "
    "  CASE WHEN c_custkey % 2 = 0 THEN b4 * 2 ELSE b4 END AS b5 FROM h) "
    "SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("b1") + " AS total FROM i "
    "UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT), " + dsum_sql("b2") + " FROM i "
    "UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT), " + dsum_sql("b3") + " FROM i "
    "UNION ALL SELECT 4, CAST(COUNT(*) AS BIGINT), " + dsum_sql("b4") + " FROM i "
    "UNION ALL SELECT 5, CAST(COUNT(*) AS BIGINT), " + dsum_sql("b5") + " FROM i "
    "UNION ALL SELECT 91, 1, 0.0 "
    "UNION ALL SELECT 92, 2, 0.0 "
    "ORDER BY version"
)


@register(
    "mutate_concurrent_writers",
    oracle=_OCC_ORACLE,
    doc="Optimistic multi-writer commits graded end-to-end (r7; no "
    "reference analog — parser.cpp never executes DML at all): four "
    "interleaved optimistic update_where writers mutate a version-enabled "
    "customer copy.  Writers 1+2 hit DISJOINT files (lowest vs highest "
    "c_custkey range in the range-clustered layout) — the interleaved "
    "writer commits between the outer writer's stage and commit, and the "
    "outer writer must still commit FIRST-attempt (validation passes, "
    "attempts row 91 = 1).  Writers 3+4 hit the SAME files (odd vs even "
    "keys live in every file) — the outer writer must lose validation, "
    "retry against the committed state, and commit on attempt 2 "
    "(attempts row 92 = 2) with the serial outcome.  Every committed "
    "version 1-5 is then read back and aggregated; the oracle folds each "
    "version's state algebraically, so equality proves no lost update, "
    "exact manifest pinning across concurrent commits, and the retry "
    "protocol's attempt counts",
    tags=("mutate",),
)
def mutate_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import enable_versioning, read_version
    from ..operators.mutate import update_where

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_occ")
    (
        t["customer"]
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    lo, hi = spark.read.parquet(path).agg(
        F.min("c_custkey"), F.max("c_custkey")
    ).first()
    enable_versioning(spark, path)                                  # v1

    # phase 1 — disjoint files: writer B (+1000, highest keys) commits
    # v2 while writer A (+100, lowest keys) sits between stage and
    # commit; A's validation passes and it commits v3 with NO retry
    a_attempts: list[int] = []

    def interleave_b(attempt: int) -> None:
        a_attempts.append(attempt)
        if attempt == 1:
            update_where(
                spark, path,
                {"c_acctbal": "c_acctbal + 1000"},
                f"c_custkey > {hi} - 3",
                optimistic=True,
            )                                                       # v2
    update_where(
        spark, path,
        {"c_acctbal": "c_acctbal + 100"},
        f"c_custkey < {lo} + 3",
        _after_stage=interleave_b,
        optimistic=True,
    )                                                               # v3

    # phase 2 — overlapping files: writer D (+7, odd keys — every file)
    # commits v4 mid-flight; writer C (*2, even keys — the same files)
    # must lose validation, retry over D's committed rows, commit v5
    c_attempts: list[int] = []

    def interleave_d(attempt: int) -> None:
        c_attempts.append(attempt)
        if attempt == 1:
            update_where(
                spark, path,
                {"c_acctbal": "c_acctbal + 7"},
                "c_custkey % 2 = 1",
                optimistic=True,
            )                                                       # v4
    update_where(
        spark, path,
        {"c_acctbal": "c_acctbal * 2"},
        "c_custkey % 2 = 0",
        _after_stage=interleave_d,
        optimistic=True,
    )                                                               # v5

    frames = [
        read_version(spark, path, v)
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n", "total")
        for v in (1, 2, 3, 4, 5)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    # the attempt counts ARE part of the graded protocol evidence
    attempts = values_df(
        spark,
        "version int, n bigint, total double",
        [(91, len(a_attempts), 0.0), (92, len(c_attempts), 0.0)],
    )
    return out.unionByName(attempts).orderBy("version")


# -- staged for the r09 grading window (registered past the 50-query
# -- r08 _PRIORITY window; sim-covered every round regardless) ---------------

_OCC_MERGE_ORACLE = (
    "WITH lim AS (SELECT MIN(c_custkey) AS lo, MAX(c_custkey) AS hi "
    "FROM customer), "
    "base AS (SELECT c_custkey, c_acctbal FROM customer), "
    "v2 AS ("
    "  SELECT c_custkey, CASE WHEN c_custkey < (SELECT lo + 3 FROM lim) "
    "  THEN c_acctbal + 500 ELSE c_acctbal END AS b FROM base "
    "  UNION ALL SELECT c_custkey + 2000000, 500.0 FROM base "
    "  WHERE c_custkey < (SELECT lo + 3 FROM lim)), "
    "v3 AS ("
    "  SELECT c_custkey, CASE WHEN c_custkey > (SELECT hi - 3 FROM lim) "
    "  AND c_custkey <= (SELECT hi FROM lim) "
    "  THEN b + 900 ELSE b END AS b FROM v2 "
    "  UNION ALL SELECT c_custkey + 3000000, 900.0 FROM base "
    "  WHERE c_custkey > (SELECT hi - 3 FROM lim)) "
    "SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal") + " AS total FROM base "
    "UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT), " + dsum_sql("b")
    + " FROM v2 "
    "UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT), " + dsum_sql("b")
    + " FROM v3 "
    "UNION ALL SELECT 91, 2, 0.0 "
    "ORDER BY version"
)


@register(
    "mutate_occ_merge",
    oracle=_OCC_MERGE_ORACLE,
    doc="Optimistic MERGE graded end-to-end (r8; no reference analog — "
    "parser.cpp never executes DML): two interleaved optimistic merge_into "
    "upserts on a version-enabled customer copy.  Writer B (low keys, "
    "delta 500 + inserts shifted +2e6) commits v2 between writer A's "
    "stage and commit; A's SERIALIZABLE validation (a merge's read set "
    "is the whole table — its NOT-MATCHED anti-join read every file) "
    "must fail, re-derive matched/unmatched against B's committed "
    "state, and commit v3 on attempt 2 (attempts row 91 = 2).  All "
    "three versions read back and aggregated; the oracle folds both "
    "upserts algebraically, so equality proves no lost update, no "
    "duplicate insert, and exact manifest pinning across the retry",
    tags=("mutate",),
)
def mutate_occ_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import enable_versioning, read_version
    from ..operators.mutate import merge_into

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_occ_merge")
    (
        t["customer"]
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    lo, hi = spark.read.parquet(path).agg(
        F.min("c_custkey"), F.max("c_custkey")
    ).first()
    enable_versioning(spark, path)                                  # v1

    # the merge SOURCES must be self-contained (literal rows), never a
    # plan over the target's files: an optimistic retry re-evaluates the
    # source after the competing commit retired those files
    def src_for(pred: str, shift: int, delta: float) -> DataFrame:
        keys = [
            r[0]
            for r in spark.read.parquet(path)
            .where(pred)
            .select("c_custkey")
            .collect()
        ]
        rows = [(k, delta) for k in keys] + [(k + shift, delta) for k in keys]
        return values_df(spark, "c_custkey long, delta double", rows)

    src_b = src_for(f"c_custkey < {lo} + 3", 2_000_000, 500.0)
    src_a = src_for(f"c_custkey > {hi} - 3", 3_000_000, 900.0)
    a_attempts: list[int] = []

    def interleave_b(attempt: int) -> None:
        a_attempts.append(attempt)
        if attempt == 1:
            merge_into(
                spark, path, src_b, on=["c_custkey"],
                matched_set={"c_acctbal": "c_acctbal + src_delta"},
                insert_values={"c_acctbal": "src_delta"},
                optimistic=True,
            )                                                       # v2

    merge_into(
        spark, path, src_a, on=["c_custkey"],
        matched_set={"c_acctbal": "c_acctbal + src_delta"},
        insert_values={"c_acctbal": "src_delta"},
        _after_stage=interleave_b,
        optimistic=True,
    )                                                               # v3

    frames = [
        read_version(spark, path, v)
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n", "total")
        for v in (1, 2, 3)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    attempts = values_df(
        spark,
        "version int, n bigint, total double",
        [(91, len(a_attempts), 0.0)],
    )
    return out.unionByName(attempts).orderBy("version")


_OCC_PART_ORACLE = (
    "WITH m AS (SELECT o_orderstatus, "
    "  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1000 "
    "       WHEN o_orderstatus = 'O' THEN o_totalprice + 500 "
    "       ELSE o_totalprice END AS p FROM orders) "
    "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("p") + " AS total FROM m GROUP BY o_orderstatus "
    "UNION ALL SELECT '_attempts', 1, 0.0 "
    "ORDER BY o_orderstatus"
)


@register(
    "mutate_occ_partitioned",
    oracle=_OCC_PART_ORACLE,
    doc="Partition-scoped optimistic concurrency graded end-to-end (r8): "
    "orders copied hive-partitioned by o_orderstatus; writer B (status "
    "'F', +1000) commits between writer A's (status 'O', +500) stage "
    "and commit.  A's validation re-lists ONLY its touched partition "
    "directory, so disjoint-partition writers never conflict — A must "
    "commit FIRST-attempt (the '_attempts' row grades exactly that, "
    "n = 1).  The final table aggregates per status against the "
    "oracle's algebraic fold of both updates",
    tags=("mutate",),
)
def mutate_occ_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mutate import update_where

    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_occ_part")
    (
        t["orders"]
        .repartition(2)
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    a_attempts: list[int] = []

    def interleave_b(attempt: int) -> None:
        a_attempts.append(attempt)
        if attempt == 1:
            update_where(
                spark, path,
                {"o_totalprice": "o_totalprice + 1000"},
                "o_orderstatus = 'F'",
                optimistic=True,
            )

    update_where(
        spark, path,
        {"o_totalprice": "o_totalprice + 500"},
        "o_orderstatus = 'O'",
        _after_stage=interleave_b,
        optimistic=True,
    )
    back = spark.read.parquet(path)
    out = (
        back.groupBy(F.col("o_orderstatus").cast("string").alias("o_orderstatus"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )
    attempts = values_df(
        spark,
        "o_orderstatus string, n bigint, total double",
        [("_attempts", len(a_attempts), 0.0)],
    )
    return out.unionByName(attempts).orderBy("o_orderstatus")


_EVOLVE_ORACLE = (
    "WITH src AS (SELECT p_partkey, p_retailprice / 10 AS score "
    "  FROM part WHERE p_partkey % 10 = 0), "
    "ins AS (SELECT p_partkey + 1000000 AS p_partkey, 'NEW' AS p_brand, "
    "  score FROM src), "
    "evolved AS ("
    "  SELECT p.p_brand, s.score FROM part p "
    "  LEFT JOIN src s ON p.p_partkey = s.p_partkey "
    "  UNION ALL SELECT p_brand, score FROM ins) "
    "SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(COUNT(score) AS BIGINT) AS n_scored, "
    + dsum_sql("COALESCE(score, 0)") + " AS total_score "
    "FROM evolved GROUP BY p_brand ORDER BY p_brand"
)


@register(
    "mutate_schema_evolution",
    oracle=_EVOLVE_ORACLE,
    doc="MERGE schema evolution graded end-to-end (r8): a source carrying "
    "a NEW column (score) upserts into a parquet copy of part with "
    "evolve_schema=True — matched rows (p_partkey % 10 = 0) take the "
    "source value, inserted rows (+1e6, brand NEW) carry it, and every "
    "untouched file NULL-backfills through the schema-merging read "
    "(read_table).  The per-brand aggregate counts scored vs unscored "
    "rows against the oracle's LEFT-JOIN fold — equality proves the "
    "evolved column reaches exactly the matched+inserted rows and "
    "nothing else, with old files never rewritten",
    tags=("mutate", "sources"),
)
def mutate_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mutate import merge_into, read_table

    t = load_tables(spark, sf_dir, ("part",))
    path = _mut_dir(sf_dir, "part_evolve")
    (
        t["part"]
        .repartitionByRange(4, "p_partkey")
        .sortWithinPartitions("p_partkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    base = spark.read.parquet(path)
    keys = base.where("p_partkey % 10 = 0").selectExpr(
        "p_partkey", "p_retailprice / 10 AS score"
    )
    src = keys.unionByName(
        keys.selectExpr("p_partkey + 1000000 AS p_partkey", "score")
    )
    merge_into(
        spark, path, src, on=["p_partkey"],
        matched_set={"score": "src_score"},
        insert_values={"p_brand": "'NEW'", "score": "src_score"},
        evolve_schema=True,
    )
    back = read_table(spark, path)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count("score").cast("long").alias("n_scored"),
            dsum(F.coalesce(F.col("score"), F.lit(0.0))).alias("total_score"),
        )
        .orderBy("p_brand")
    )


_READ_CHANGES_ORACLE = (
    "WITH v1 AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
    "c_mktsegment FROM customer), "
    "v2 AS (SELECT c_custkey, c_name, c_nationkey, "
    "CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal + 100 "
    "ELSE c_acctbal END AS c_acctbal, c_mktsegment FROM customer), "
    "v3 AS (SELECT * FROM v2 WHERE NOT COALESCE(c_acctbal < 0, FALSE)), "
    "i12 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1), "
    "d12 AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2), "
    "i23 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2), "
    "d23 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3), "
    "i13 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1), "
    "d13 AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3) "
    "SELECT 12 AS step, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM i12) AS ins_n, "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM i12), 0.0) "
    "AS ins_total, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM d12) AS del_n, "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM d12), 0.0) "
    "AS del_total "
    "UNION ALL SELECT 23, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM i23), "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM i23), 0.0), "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM d23), "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM d23), 0.0) "
    "UNION ALL SELECT 13, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM i13), "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM i13), 0.0), "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM d13), "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM d13), 0.0) "
    "ORDER BY step"
)


@register(
    "mutate_read_changes",
    oracle=_READ_CHANGES_ORACLE,
    doc="CDC over the version log graded end-to-end (new r8; no reference "
    "analog — parser.cpp:232-296 parses DML and stops): a customer copy "
    "commits v1 (enable_versioning), an UPDATE commits v2 and a DELETE "
    "commits v3; read_changes then diffs 1→2, 2→3, and 1→3, reading "
    "ONLY the files each range's manifests disagree on.  The oracle "
    "computes the same multisets with EXCEPT ALL over algebraically-"
    "folded version CTEs, so equality proves the central CDC claim: "
    "rows a COW rewrite merely copied into a new file cancel out of the "
    "diff (a whole-file rewrite for a 3%-selectivity update reports "
    "only the 3%), updates surface as delete+insert image pairs, and "
    "the 1→3 net equals the composition of the two commits",
    tags=("mutate",),
)
def mutate_read_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import enable_versioning, read_changes

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_cdc")
    (
        t["customer"]
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)                                  # v1
    update_where(
        spark, path, {"c_acctbal": "c_acctbal + 100"},
        "c_mktsegment = 'MACHINERY'",
    )                                                               # v2
    delete_where(spark, path, "c_acctbal < 0")                      # v3

    ins = F.col("_change_type") == "insert"
    dele = F.col("_change_type") == "delete"

    def _agg(step: int, lo: int, hi: int) -> DataFrame:
        ch = read_changes(spark, path, lo, hi)
        return ch.agg(
            F.count(F.when(ins, 1)).cast("long").alias("ins_n"),
            F.coalesce(
                dsum(F.when(ins, F.col("c_acctbal"))), F.lit(0.0)
            ).alias("ins_total"),
            F.count(F.when(dele, 1)).cast("long").alias("del_n"),
            F.coalesce(
                dsum(F.when(dele, F.col("c_acctbal"))), F.lit(0.0)
            ).alias("del_total"),
        ).select(F.lit(step).cast("int").alias("step"), "*")

    out = _agg(12, 1, 2)
    for fr in (_agg(23, 2, 3), _agg(13, 1, 3)):
        out = out.unionByName(fr)
    return out.orderBy("step")


_CONSTRAINTS_ORACLE = (
    "WITH v AS (SELECT c_custkey, c_mktsegment, "
    "CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 50 "
    "ELSE c_acctbal END AS b FROM customer), "
    "m AS (SELECT c_custkey, c_mktsegment, "
    "CASE WHEN c_custkey % 13 = 0 THEN b + 10 ELSE b END AS b FROM v "
    "UNION ALL SELECT c_custkey + 5000000, 'NEW', 500.0 FROM customer "
    "WHERE c_custkey % 13 = 0) "
    "SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("b") + " AS total FROM m GROUP BY c_mktsegment "
    "UNION ALL SELECT '__violations_blocked', 2, 0.0 "
    "ORDER BY seg"
)


@register(
    "mutate_constraints",
    oracle=_CONSTRAINTS_ORACLE,
    doc="CHECK constraints enforced at DML stage time, graded end-to-end "
    "(new r8; no reference analog — the reference parses DML and stops "
    "and has no constraint surface): a customer copy registers "
    "c_acctbal >= -50000; a violating UPDATE (−100000 on every 11th "
    "key) and a violating MERGE insert (−99999 rows) must BOTH abort "
    "with the table byte-identical (no staging swapped), while a "
    "conforming UPDATE and a conforming MERGE upsert land normally.  "
    "The oracle folds ONLY the conforming mutations algebraically and "
    "pins the blocked count, so equality proves enforcement blocks "
    "exactly the violating commits and rollback leaves no trace",
    tags=("mutate",),
)
def mutate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.constraints import ConstraintViolation, add_constraint

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_cons")
    (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    add_constraint(spark, path, "acctbal_floor", "c_acctbal >= -50000")
    blocked = 0
    try:
        update_where(
            spark, path, {"c_acctbal": "c_acctbal - 100000"},
            "c_custkey % 11 = 0",
        )
    except ConstraintViolation:
        blocked += 1
    update_where(
        spark, path, {"c_acctbal": "c_acctbal + 50"},
        "c_mktsegment = 'BUILDING'",
    )
    bad_src = (
        t["customer"]
        .where("c_custkey % 13 = 0")
        .select(
            (F.col("c_custkey") + F.lit(7000000)).alias("c_custkey"),
            F.lit("BAD").alias("c_mktsegment"),
            F.lit(-99999.0).alias("c_acctbal"),
        )
    )
    try:
        merge_into(spark, path, bad_src, on=["c_custkey"])
    except ConstraintViolation:
        blocked += 1
    good_src = (
        t["customer"]
        .where("c_custkey % 13 = 0")
        .select("c_custkey", F.lit(10.0).alias("boost"))
        .unionByName(
            t["customer"]
            .where("c_custkey % 13 = 0")
            .select(
                (F.col("c_custkey") + F.lit(5000000)).alias("c_custkey"),
                F.lit(500.0).alias("boost"),
            )
        )
    )
    merge_into(
        spark, path, good_src, on=["c_custkey"],
        matched_set={"c_acctbal": "c_acctbal + src_boost"},
        insert_values={
            "c_mktsegment": "'NEW'",
            "c_acctbal": "src_boost",
        },
    )
    back = spark.read.parquet(path)
    out = (
        back.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
    )
    guard = values_df(
        spark,
        "seg string, n bigint, total double",
        [("__violations_blocked", blocked, 0.0)],
    )
    return out.unionByName(guard).orderBy("seg")


_CDF_REPLAY_ORACLE = (
    "WITH v2 AS (SELECT c_custkey, c_mktsegment, "
    "CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal + 100 "
    "ELSE c_acctbal END AS c_acctbal FROM customer), "
    "v3 AS (SELECT * FROM v2 WHERE NOT COALESCE(c_acctbal < 0, FALSE)), "
    "final AS (SELECT * FROM v3 "
    "UNION ALL SELECT c_custkey + 5000000, 'NEW', 250.0 FROM customer "
    "WHERE c_custkey % 17 = 0) "
    "SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal") + " AS total FROM final "
    "GROUP BY c_mktsegment ORDER BY seg"
)


@register(
    "mutate_cdf_replay",
    oracle=_CDF_REPLAY_ORACLE,
    doc="Change-data-feed SOURCE graded end-to-end (new r8; no reference "
    "analog): a customer copy commits v1..v4 (enable_versioning, "
    "UPDATE, three-valued DELETE, MERGE insert into a new segment), "
    "then the whole history is read back through the cow_changes "
    "PySpark Python DataSource (streaming/cdf.py — one InputPartition "
    "per changed file, Arrow batches into the JVM) and SIGNED-replayed: "
    "sum(+1 insert / −1 delete) and the signed decimal-exact acctbal "
    "sum per segment.  The oracle folds the three mutations "
    "algebraically into the FINAL state — equality proves the raw "
    "file-granular feed is complete and consistent (copied-row "
    "delete+insert pairs cancel, v1 surfaces the initial snapshot, "
    "every commit's adds/removes balance to exactly the net mutation)",
    tags=("mutate", "streaming"),
)
def mutate_cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import enable_versioning
    from ..streaming.cdf import register as register_cdf

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_cdf")
    (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)                                  # v1
    update_where(
        spark, path, {"c_acctbal": "c_acctbal + 100"},
        "c_mktsegment = 'MACHINERY'",
    )                                                               # v2
    delete_where(spark, path, "c_acctbal < 0")                      # v3
    ins_src = (
        t["customer"]
        .where("c_custkey % 17 = 0")
        .select(
            (F.col("c_custkey") + F.lit(5000000)).alias("c_custkey"),
            F.lit("NEW").alias("c_mktsegment"),
            F.lit(250.0).alias("c_acctbal"),
        )
    )
    merge_into(spark, path, ins_src, on=["c_custkey"])              # v4

    register_cdf(spark)
    changes = spark.read.format("cow_changes").option("path", path).load()
    ins = F.col("_change_type") == "insert"
    return (
        changes.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.when(ins, 1).otherwise(-1)).cast("long").alias("n"),
            dsum(
                F.when(ins, F.col("c_acctbal")).otherwise(
                    -F.col("c_acctbal")
                )
            ).alias("total"),
        )
        .orderBy("seg")
    )


@register(
    "mutate_compact_zorder",
    oracle="SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql(
        "CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 25 ELSE c_acctbal END"
    )
    + " AS total FROM customer GROUP BY c_mktsegment ORDER BY seg",
    doc="OPTIMIZE ZORDER graded end-to-end (new r8; the reference's index "
    "selection is cost-model-only — engine/src/cost_estimator.cpp): a "
    "customer copy scattered across 8 row-number-layout files takes an "
    "UPDATE (every 5th key), then compact(zorder=[c_custkey, "
    "c_acctbal]) rewrites the whole layout through the Morton "
    "repartitionByRange+sort path.  The aggregate of the reclustered "
    "table must equal the oracle's algebraic fold of just the UPDATE — "
    "proving the recluster is content-exact (no row lost, duplicated, "
    "or altered by the shuffle+sort rewrite).  The footer-level pruning "
    "effect itself is plan/footer-asserted in tests/test_mutate.py::"
    "test_compact_zorder_reclusters_both_dims (file counts are "
    "compression-dependent, so the graded row keeps to content)",
    tags=("mutate", "sources"),
)
def mutate_compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_zorder")
    (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(path)
    )
    update_where(
        spark, path, {"c_acctbal": "c_acctbal + 25"}, "c_custkey % 5 = 0"
    )
    compact(
        spark, path, target_bytes=1 << 20,
        zorder=["c_custkey", "c_acctbal"],
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .orderBy("seg")
    )


@register(
    "mutate_mor_pipeline",
    oracle="WITH after_del AS ("
    "SELECT CASE WHEN c_acctbal > 9000 THEN 'VIP' ELSE c_mktsegment END "
    "AS seg, c_acctbal FROM customer "
    "WHERE NOT COALESCE(c_acctbal < 0, FALSE)) "
    "SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM after_del "
    "WHERE NOT COALESCE(seg = 'MACHINERY', FALSE) "
    "GROUP BY seg ORDER BY seg",
    doc="Merge-on-read DML graded end-to-end (new r8, operators/mor.py — "
    "the Delta-3.x deletion-vector shape; the reference's DML is "
    "parse-only, engine/src/parser.cpp:232-296): dv_delete tombstones "
    "negative-balance rows as O(deleted) sidecar entries (zero data "
    "files rewritten), dv_update appends updated copies + tombstones "
    "the originals, a SECOND dv_delete then tombstones rows including "
    "some of those freshly appended copies (proving row identity holds "
    "on post-update files), and materialize_deletes folds all vectors "
    "into a rewrite of exactly the touched files.  The aggregate of the "
    "final BASE read must equal the oracle's algebraic fold "
    "(delete -> NOT COALESCE filter, update -> CASE, second delete on "
    "the post-update image) — proving tombstone three-valued "
    "semantics, the (file, row_index) identity join, update-copy "
    "routing, and materialize exactness in one pass",
    tags=("mutate", "sources"),
)
def mutate_mor_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mor import (
        dv_delete_where,
        dv_update_where,
        materialize_deletes,
        read_mor,
    )

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_mor")
    (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .repartitionByRange(6, "c_acctbal")
        .sortWithinPartitions("c_acctbal")
        .write.mode("overwrite")
        .parquet(path)
    )
    # range-clustered on c_acctbal: the tombstone scans prune to the files
    # whose footer min/max admit the predicate — at 100 TB a point-delete
    # writes a few KB of vectors after reading a handful of row groups
    dv_delete_where(spark, path, "c_acctbal < 0")
    dv_update_where(
        spark, path, {"c_mktsegment": "'VIP'"}, "c_acctbal > 9000"
    )
    dv_delete_where(spark, path, "c_mktsegment = 'MACHINERY'")
    mor = read_mor(spark, path)
    agg_cols = [
        F.count("*").cast("long").alias("n"),
        dsum("c_acctbal").alias("total"),
    ]
    before = mor.groupBy(F.col("c_mktsegment").alias("seg")).agg(*agg_cols)
    # pin the pre-materialize answer NOW: read_mor's plan holds the file
    # list it resolved, and materialize is about to replace those files
    before_rows = before.collect()  # bounded: one row per segment
    # fold the vectors into real files; afterwards the plain BASE read
    # must agree with what read_mor said before the rewrite
    materialize_deletes(spark, path)
    after = (
        spark.read.parquet(path)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(*agg_cols)
    )
    # grade the post-materialize base read; read_mor equivalence is
    # asserted by intersecting (an inconsistency would change row counts) —
    # the pinned rows ride back in as a VALUES LocalRelation (JVM-only;
    # doubles repr-exact, so the intersect compares identical bits) rather
    # than a Python-RDD createDataFrame
    return after.intersect(
        values_df(
            spark,
            "seg string, n long, total double",
            [tuple(r) for r in before_rows],
        )
    ).orderBy("seg")


@register(
    "mutate_restore_version",
    oracle="SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("o_totalprice")
    + " AS total FROM orders "
    "WHERE NOT COALESCE(o_orderstatus = 'F', FALSE) "
    "GROUP BY o_orderstatus ORDER BY o_orderstatus",
    doc="RESTORE TO VERSION graded end-to-end (new r8, "
    "operators/mutate.py restore_version — the Delta RESTORE shape over "
    "the auto-version log): an orders copy under versioning takes a "
    "DELETE (v2) then an UPDATE (v3), then rolls back to v2 as new v4 "
    "via metadata-only renames (files still live stay put; retired "
    "files move back to their original slots; post-v2 files retire).  "
    "The aggregate of the restored LIVE table must equal the oracle's "
    "fold of ONLY the delete — the update is provably undone — while "
    "v3 time travel inside the query guards that rolled-past history "
    "still READS (its per-status row counts must equal the live "
    "table's — restore undoes values, not cardinality — enforced by an "
    "inner join on the intersected counts; a restore that broke v3 "
    "readability or dropped rows grades red by emptying the join)",
    tags=("mutate", "sources"),
)
def mutate_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import (
        enable_versioning,
        read_version,
        restore_version,
    )

    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_restore")
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(6, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)                                   # v1
    delete_where(spark, path, "o_orderstatus = 'F'")                 # v2
    update_where(
        spark, path, {"o_totalprice": "o_totalprice + 1"},
        "o_totalprice < 100000",
    )                                                                # v3
    restore_version(spark, path, 2)                                  # v4
    # guard that v3 (the rolled-past update) still reads exactly: its row
    # count must equal the restored table's (restore undoes values, not
    # cardinality), enforced by intersecting the two aggregates
    live = spark.read.parquet(path)
    v3 = read_version(spark, path, 3)
    agg = lambda df: (  # noqa: E731
        df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n")
        )
    )
    counts_equal = agg(live).intersect(agg(v3))
    return (
        live.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .join(counts_equal, ["o_orderstatus", "n"], "inner")
        .select("o_orderstatus", "n", "total")
        .orderBy("o_orderstatus")
    )


@register(
    "point_lookup_bloom",
    oracle="SELECT o_orderkey, o_custkey, "
    + dsum_sql("o_totalprice")
    + " AS total FROM orders "
    "WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 999999937) "
    "GROUP BY o_orderkey, o_custkey ORDER BY o_orderkey",
    doc="File-level bloom index graded end-to-end (new r8, "
    "operators/fileindex.py — the executable analog of the reference's "
    "cost-model-only index selection, engine/src/cost_estimator.cpp, "
    "and the Delta bloom-index shape): an orders copy range-clustered "
    "on o_totalprice (so o_orderkey is SCATTERED and footer min/max "
    "cannot prune it) gets a per-file bloom sidecar on o_orderkey "
    "(xxhash64 positions JVM-side, Arrow-packed bitsets); an 8-key IN "
    "lookup (seven present keys + one absent) runs as ONE probe pass — "
    "a single index scan admits a file if any key's bits are set — and "
    "one read of only the admitted files.  Equality with the oracle's "
    "plain IN filter proves no-false-negative membership, type-faithful "
    "literal hashing, and residual-predicate exactness; the skipping "
    "itself (candidates < files, absent key ≈ zero files) is pinned in "
    "tests/test_fileindex.py",
    tags=("mutate", "sources"),
)
def point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fileindex import build_bloom_index, read_point_lookups

    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_bloom")
    (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    build_bloom_index(spark, path, "o_orderkey", num_bits=1 << 17)
    keys = [1, 2, 3, 4, 5, 6, 7, 999999937]
    hits = read_point_lookups(spark, path, "o_orderkey", keys)
    return (
        hits.groupBy("o_orderkey", "o_custkey")
        .agg(dsum("o_totalprice").alias("total"))
        .orderBy("o_orderkey")
    )


@register(
    "mutate_mor_versioned",
    oracle="WITH v2 AS (SELECT c_custkey, c_mktsegment, c_acctbal "
    "FROM customer WHERE NOT COALESCE(c_acctbal < 0, FALSE)), "
    "v3 AS (SELECT c_custkey, CASE WHEN c_acctbal > 9000 THEN 'VIP' "
    "ELSE c_mktsegment END AS c_mktsegment, c_acctbal FROM v2) "
    "SELECT 'live_v2' AS src, c_mktsegment AS seg, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM v2 GROUP BY c_mktsegment "
    "UNION ALL "
    "SELECT 'travel_v3' AS src, c_mktsegment AS seg, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM v3 GROUP BY c_mktsegment "
    "UNION ALL "
    "SELECT 'cdc_delete' AS src, c_mktsegment AS seg, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM v2 WHERE c_acctbal > 9000 GROUP BY c_mktsegment "
    "UNION ALL "
    "SELECT 'cdc_insert' AS src, 'VIP' AS seg, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal")
    + " AS total FROM v2 WHERE c_acctbal > 9000 "
    "ORDER BY src, seg",
    doc="Merge-on-read UNIFIED with the version log, graded end-to-end "
    "(new r9; the Delta-3.x shape — manifests pin deletion-vector batch "
    "files beside data files, operators/mutate._manifest_state).  On a "
    "versioned customer copy: dv_delete commits v2 (tombstones only, no "
    "data file touched), dv_update commits v3, materialize_deletes "
    "commits v4 (retiring the vector batches), RESTORE TO v2 commits v5 "
    "(metadata renames bring the PRE-materialize files AND the v2 "
    "vector batches back).  Graded in one frame: the restored live "
    "state ('live_v2', update provably undone), TIME TRAVEL to v3 "
    "through retired files + retired vectors ('travel_v3'), and the "
    "CDC diff across the DV commit v2->v3 ('cdc_delete'/'cdc_insert' — "
    "the update's old images and its VIP copies).  Equality with the "
    "oracle's algebraic fold proves DV state is versioned, time travel "
    "applies tombstones as-of, CDC emits tombstoned rows, and restore "
    "round-trips vector batches — all at O(changed rows) write cost",
    tags=("mutate", "sources"),
)
def mutate_mor_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mor import (
        dv_delete_where,
        dv_update_where,
        materialize_deletes,
        read_mor,
    )
    from ..operators.versioning import (
        enable_versioning,
        read_changes,
        read_version,
        restore_version,
    )

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_mor_versioned")
    (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .repartitionByRange(6, "c_acctbal")
        .sortWithinPartitions("c_acctbal")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)                                    # v1
    dv_delete_where(spark, path, "c_acctbal < 0")                     # v2
    dv_update_where(
        spark, path, {"c_mktsegment": "'VIP'"}, "c_acctbal > 9000"
    )                                                                 # v3
    materialize_deletes(spark, path)                                  # v4
    restore_version(spark, path, 2)                                   # v5

    def agg(df: DataFrame, src: str) -> DataFrame:
        return df.groupBy(
            F.lit(src).alias("src"), F.col("c_mktsegment").alias("seg")
        ).agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )

    live = agg(read_mor(spark, path), "live_v2")
    travel = agg(read_version(spark, path, 3), "travel_v3")
    cdc = (
        read_changes(spark, path, 2, 3)
        .groupBy(
            F.concat(F.lit("cdc_"), F.col("_change_type")).alias("src"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
    )
    return live.unionByName(travel).unionByName(cdc).orderBy("src", "seg")


@register(
    "mutate_mor_merge",
    oracle="WITH merged AS ("
    "SELECT o_orderkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 7 = 0 AND o_orderstatus <> 'F' "
    "THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice "
    "FROM orders "
    "WHERE NOT COALESCE(o_orderkey % 7 = 0 AND o_orderstatus = 'F', FALSE) "
    "UNION ALL "
    "SELECT o_orderkey + 100000000, 'NEW', 1.0 FROM orders "
    "WHERE o_orderkey % 1000 = 0) "
    "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("o_totalprice")
    + " AS total FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus",
    doc="Merge-on-read MERGE INTO graded end-to-end (new r9, "
    "operators/mor.dv_merge_into — the verb the streaming CDC applier "
    "runs per micro-batch): one statement carries a conditional "
    "WHEN MATCHED DELETE (op='D' -> tombstone), a WHEN MATCHED UPDATE "
    "(tombstone + appended copy), and a WHEN NOT MATCHED INSERT, at "
    "O(matched + inserted rows) cost with ZERO file rewrites "
    "(files_rewritten == 0 asserted in-query; the COW merge rewrites "
    "every file a matched key lives in).  The final read_mor aggregate "
    "must equal the oracle's algebraic fold (delete -> NOT COALESCE "
    "filter, update -> CASE, insert -> UNION ALL), proving clause "
    "routing, three-valued delete-before-update order, self-re-match "
    "immunity of the appended copies, and tombstone identity on a "
    "range-clustered layout",
    tags=("mutate", "sources"),
)
def mutate_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mor import dv_merge_into, read_mor

    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_mor_merge")
    base = t["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        base.repartitionByRange(6, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    # CDC-shaped source derived deterministically from the fixture:
    # every 7th key mutates (delete if status F, else +1000), and a
    # disjoint key range inserts
    changes = base.where("o_orderkey % 7 = 0").selectExpr(
        "o_orderkey",
        "CAST(NULL AS DOUBLE) AS o_totalprice",
        "CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op",
    )
    inserts = base.where("o_orderkey % 1000 = 0").selectExpr(
        "o_orderkey + 100000000 AS o_orderkey",
        "CAST(1.0 AS DOUBLE) AS o_totalprice",
        "'I' AS op",
    )
    src = changes.unionByName(inserts)
    st = dv_merge_into(
        spark,
        path,
        src,
        on=["o_orderkey"],
        matched_set={"o_totalprice": "o_totalprice + 1000"},
        matched_delete="src_op = 'D'",
        insert_values={
            "o_orderstatus": "'NEW'",
            "o_totalprice": "src_o_totalprice",
        },
        insert_condition="src_op = 'I'",
    )
    assert st.files_rewritten == 0, "MOR merge must not rewrite files"
    return (
        read_mor(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


_TXN_BATCH_ORACLE = (
    "WITH base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
    "c_mktsegment FROM customer), "
    "u AS (SELECT c_custkey, c_name, c_nationkey, "
    "CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal + 100 "
    "ELSE c_acctbal END AS c_acctbal, c_mktsegment FROM base), "
    "d AS (SELECT * FROM u WHERE NOT COALESCE(c_acctbal < 0, FALSE)), "
    "src AS (SELECT c_custkey, c_name, c_nationkey, "
    "CAST(1234.5 AS DOUBLE) AS c_acctbal, c_mktsegment FROM base "
    "WHERE c_custkey % 97 = 0 "
    "UNION ALL SELECT c_custkey + 9000000, c_name, c_nationkey, "
    "CAST(555.25 AS DOUBLE), c_mktsegment FROM base "
    "WHERE c_custkey % 97 = 0), "
    "v2 AS (SELECT t.c_custkey, t.c_name, t.c_nationkey, "
    "CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal "
    "ELSE t.c_acctbal END AS c_acctbal, t.c_mktsegment "
    "FROM d t LEFT JOIN src s ON t.c_custkey = s.c_custkey "
    "UNION ALL SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, "
    "s.c_mktsegment FROM src s "
    "WHERE NOT EXISTS (SELECT 1 FROM d t WHERE t.c_custkey = s.c_custkey)), "
    "i12 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM base), "
    "d12 AS (SELECT * FROM base EXCEPT ALL SELECT * FROM v2) "
    "SELECT CAST(1 AS INT) AS step, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM i12) AS ins_n, "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM i12), 0.0) "
    "AS ins_total, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM d12) AS del_n, "
    "COALESCE((SELECT " + dsum_sql("c_acctbal") + " FROM d12), 0.0) "
    "AS del_total "
    "UNION ALL SELECT CAST(2 AS INT), "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM v2), "
    "(SELECT " + dsum_sql("c_acctbal") + " FROM v2), "
    "CAST(2 AS BIGINT), CAST(0.0 AS DOUBLE) "
    "ORDER BY step"
)


@register(
    "mutate_txn_batch",
    oracle=_TXN_BATCH_ORACLE,
    doc="Multi-statement transaction (operators/txn.py; no reference "
    "analog — parser.cpp:232-296 parses single DML statements and "
    "stops): UPDATE, DELETE, and MERGE run under ONE begin()/commit() "
    "on a versioned customer copy, so the version log gains exactly ONE "
    "commit whose CDC is the COMPOSED diff of the three verbs (step 1 "
    "grades read_changes(1, 2) against the oracle's algebraic "
    "update∘delete∘merge fold + EXCEPT ALL).  A second transaction then "
    "updates every row and ROLLS BACK, and step 2 grades the final "
    "table aggregate plus the committed-version count — proving the "
    "rollback restored the table and committed nothing.  All metadata: "
    "the transaction adds one deferred manifest write and an "
    "O(touched-files) rename/delete plan on top of the verbs",
    tags=("mutate",),
)
def mutate_txn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import (
        enable_versioning,
        read_changes,
        table_versions,
    )
    from ..operators.txn import begin

    t = load_tables(spark, sf_dir, ("customer",))
    base = t["customer"].select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path = _mut_dir(sf_dir, "cust_txn")
    (
        base.repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)                                  # v1
    hit = base.where("c_custkey % 97 = 0")
    src = hit.select(
        "c_custkey", "c_name", "c_nationkey",
        F.lit(1234.5).cast("double").alias("c_acctbal"), "c_mktsegment",
    ).unionByName(
        hit.select(
            (F.col("c_custkey") + 9000000).alias("c_custkey"),
            "c_name", "c_nationkey",
            F.lit(555.25).cast("double").alias("c_acctbal"),
            "c_mktsegment",
        )
    )
    with begin(spark, path):
        update_where(
            spark, path, {"c_acctbal": "c_acctbal + 100"},
            "c_mktsegment = 'MACHINERY'",
        )
        delete_where(spark, path, "c_acctbal < 0")
        merge_into(
            spark, path, src, on=["c_custkey"],
            matched_set={"c_acctbal": "src_c_acctbal"},
        )                                                           # -> v2
    vs = table_versions(spark, path)
    assert vs == [1, 2], f"txn must commit exactly one version, got {vs}"
    # second batch rolls back: the table must stay at v2, byte-identical
    txn = begin(spark, path)
    update_where(spark, path, {"c_acctbal": "0.0"}, "c_custkey >= 0")
    txn.rollback()

    ins = F.col("_change_type") == "insert"
    dele = F.col("_change_type") == "delete"
    ch = read_changes(spark, path, 1, 2)
    step1 = ch.agg(
        F.count(F.when(ins, 1)).cast("long").alias("ins_n"),
        F.coalesce(
            dsum(F.when(ins, F.col("c_acctbal"))), F.lit(0.0)
        ).alias("ins_total"),
        F.count(F.when(dele, 1)).cast("long").alias("del_n"),
        F.coalesce(
            dsum(F.when(dele, F.col("c_acctbal"))), F.lit(0.0)
        ).alias("del_total"),
    ).select(F.lit(1).cast("int").alias("step"), "*")
    back = spark.read.parquet(path)
    step2 = back.agg(
        F.count("*").cast("long").alias("ins_n"),
        dsum("c_acctbal").alias("ins_total"),
        F.lit(len(table_versions(spark, path))).cast("long").alias("del_n"),
        F.lit(0.0).alias("del_total"),
    ).select(F.lit(2).cast("int").alias("step"), "*")
    return step1.unionByName(step2).orderBy("step")


_OCC_DV_ORACLE = (
    "WITH lim AS (SELECT MIN(c_custkey) AS lo, MAX(c_custkey) AS hi "
    "FROM customer), "
    "v1 AS (SELECT c_custkey, c_acctbal FROM customer), "
    "v2 AS (SELECT * FROM v1 "
    "  WHERE NOT COALESCE(c_custkey > (SELECT hi - 3 FROM lim), FALSE)), "
    "v3 AS (SELECT * FROM v2 "
    "  WHERE NOT COALESCE(c_custkey < (SELECT lo + 3 FROM lim), FALSE)), "
    "v4 AS (SELECT * FROM v3 "
    "  WHERE NOT COALESCE(c_custkey < (SELECT lo + 10 FROM lim) "
    "  AND c_custkey % 2 = 1, FALSE)), "
    "v5 AS (SELECT * FROM v4 "
    "  WHERE NOT COALESCE(c_custkey < (SELECT lo + 10 FROM lim) "
    "  AND c_custkey % 2 = 0, FALSE)) "
    "SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("c_acctbal") + " AS total FROM v1 "
    "UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT), "
    + dsum_sql("c_acctbal") + " FROM v2 "
    "UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT), "
    + dsum_sql("c_acctbal") + " FROM v3 "
    "UNION ALL SELECT 4, CAST(COUNT(*) AS BIGINT), "
    + dsum_sql("c_acctbal") + " FROM v4 "
    "UNION ALL SELECT 5, CAST(COUNT(*) AS BIGINT), "
    + dsum_sql("c_acctbal") + " FROM v5 "
    "UNION ALL SELECT 91, 1, 0.0 "
    "UNION ALL SELECT 92, 2, 0.0 "
    "ORDER BY version"
)


@register(
    "mutate_occ_dv_writers",
    oracle=_OCC_DV_ORACLE,
    doc="Optimistic DELETION-VECTOR deletes graded end-to-end (r10; no "
    "reference analog): four interleaved optimistic dv_delete_where "
    "writers on a version-enabled range-clustered customer copy.  Writers 1+2 "
    "tombstone DISJOINT files (highest vs lowest key range) — the "
    "interleaved writer commits v2 between the outer writer's stage and "
    "commit, and the outer writer still commits v3 FIRST-attempt "
    "(DV batches are append-only, so the conflict unit is the "
    "referenced FILE; attempts row 91 = 1).  Writers 3+4 tombstone the "
    "SAME lowest file (odd vs even keys) — the outer writer must lose "
    "validation against the interleaved v4 batch, re-derive over the "
    "winner's tombstones (already-deleted rows never double-count), and "
    "commit v5 on attempt 2 (attempts row 92 = 2).  Every version 1-5 "
    "is read back DV-aware and aggregated; the oracle folds the five "
    "tombstone states algebraically — equality proves the OCC-DV "
    "protocol loses no delete, pins exact DV state per version, and "
    "counts attempts as designed",
    tags=("mutate",),
)
def mutate_occ_dv_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mor import dv_delete_where
    from ..operators.versioning import enable_versioning, read_version

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_occ_dv")
    (
        t["customer"]
        .select("c_custkey", "c_acctbal")
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    lo, hi = spark.read.parquet(path).agg(
        F.min("c_custkey"), F.max("c_custkey")
    ).first()
    enable_versioning(spark, path)                                  # v1

    # phase 1 — disjoint files: the interleaved writer tombstones the
    # HIGHEST keys (last file) committing v2 while the outer writer
    # (lowest keys, first file) sits between stage and commit; the
    # outer validation sees DV churn only on a file it never touched
    # and commits v3 with NO retry
    a_attempts: list[int] = []

    def interleave_high(attempt: int) -> None:
        a_attempts.append(attempt)
        if attempt == 1:
            dv_delete_where(
                spark, path, f"c_custkey > {hi} - 3",
                optimistic=True
            )                                                       # v2
    dv_delete_where(
        spark, path, f"c_custkey < {lo} + 3",
        _after_stage=interleave_high,
        optimistic=True,
    )                                                               # v3

    # phase 2 — same file: the interleaved writer tombstones the ODD
    # keys of the lowest range committing v4; the outer writer (EVEN
    # keys, same file) must lose validation, re-derive over the
    # winner's tombstones, and commit v5 on attempt 2
    c_attempts: list[int] = []

    def interleave_odd(attempt: int) -> None:
        c_attempts.append(attempt)
        if attempt == 1:
            dv_delete_where(
                spark, path,
                f"c_custkey < {lo} + 10 AND c_custkey % 2 = 1",
                optimistic=True,
            )                                                       # v4
    dv_delete_where(
        spark, path,
        f"c_custkey < {lo} + 10 AND c_custkey % 2 = 0",
        _after_stage=interleave_odd,
        optimistic=True,
    )                                                               # v5

    frames = [
        read_version(spark, path, v)
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n", "total")
        for v in (1, 2, 3, 4, 5)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    attempts = values_df(
        spark,
        "version int, n bigint, total double",
        [(91, len(a_attempts), 0.0), (92, len(c_attempts), 0.0)],
    )
    return out.unionByName(attempts).orderBy("version")


_OCC_DV_UPSERT_ORACLE = (
    """
WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
b AS (SELECT (SELECT MIN(c_custkey) FROM base) AS lo,
             (SELECT MAX(c_custkey) FROM base) AS hi),
v2 AS (SELECT c_custkey, c_acctbal FROM base, b
       WHERE NOT (c_custkey > hi - 3)),
v3 AS (SELECT c_custkey,
              CASE WHEN c_custkey < lo + 3 THEN c_acctbal + 1000
                   ELSE c_acctbal END AS c_acctbal
       FROM v2, b),
v4 AS (SELECT c_custkey, c_acctbal FROM v3, b WHERE c_custkey <> lo),
src AS (SELECT c_custkey, c_acctbal * 2 AS nb FROM base, b
        WHERE c_custkey < lo + 10),
v5 AS (SELECT v4.c_custkey, COALESCE(s.nb, v4.c_acctbal) AS c_acctbal
       FROM v4 LEFT JOIN src s ON s.c_custkey = v4.c_custkey)
SELECT CAST(1 AS INTEGER) AS version, CAST(COUNT(*) AS BIGINT) AS n, """
    + dsum_sql("c_acctbal")
    + """ AS total FROM base
UNION ALL SELECT CAST(2 AS INTEGER), CAST(COUNT(*) AS BIGINT), """
    + dsum_sql("c_acctbal")
    + """ FROM v2
UNION ALL SELECT CAST(3 AS INTEGER), CAST(COUNT(*) AS BIGINT), """
    + dsum_sql("c_acctbal")
    + """ FROM v3
UNION ALL SELECT CAST(4 AS INTEGER), CAST(COUNT(*) AS BIGINT), """
    + dsum_sql("c_acctbal")
    + """ FROM v4
UNION ALL SELECT CAST(5 AS INTEGER), CAST(COUNT(*) AS BIGINT), """
    + dsum_sql("c_acctbal")
    + """ FROM v5
UNION ALL SELECT CAST(91 AS INTEGER), CAST(1 AS BIGINT), 0.0
UNION ALL SELECT CAST(92 AS INTEGER), CAST(2 AS BIGINT), 0.0
ORDER BY version
"""
)


@register(
    "mutate_occ_dv_upsert",
    oracle=_OCC_DV_UPSERT_ORACLE,
    doc="Optimistic deletion-vector UPDATE and MERGE graded end-to-end "
    "(new r11, operators/mor.py dv_update_where/dv_merge_into with "
    "optimistic=True — "
    "the symmetrization of r10's delete-only OCC-DV protocol; no "
    "reference analog).  On a version-enabled range-clustered customer "
    "copy: an occ UPDATE (+1000 on the lowest keys, file 0) overlaps an "
    "interleaved occ DELETE on the HIGHEST file (v2) and still commits "
    "v3 FIRST-attempt (disjoint files; attempts row 91 = 1).  Then an "
    "occ MERGE (source = 2x the original balances for the lowest ten "
    "keys, insert leg disabled) overlaps an interleaved DELETE of the "
    "lowest key in its OWN file (v4): the merge loses validation, "
    "re-derives over the winner's tombstone — the vanished key is "
    "neither updated nor resurrected — and commits v5 on attempt 2 "
    "(attempts row 92 = 2).  Versions 1-5 are read back DV-aware and "
    "aggregated; the oracle folds the history algebraically.  Equality "
    "proves copies+tombstones move in atomically under the OCC lock, "
    "the file-granular conflict rule spares disjoint writers, and "
    "re-derivation keeps counts exact",
    tags=("mutate",),
)
def mutate_occ_dv_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mor import dv_delete_where, dv_merge_into, dv_update_where
    from ..operators.versioning import enable_versioning, read_version

    t = load_tables(spark, sf_dir, ("customer",))
    path = _mut_dir(sf_dir, "cust_occ_dv_upsert")
    (
        t["customer"]
        .select("c_custkey", "c_acctbal")
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    lo, hi = spark.read.parquet(path).agg(
        F.min("c_custkey"), F.max("c_custkey")
    ).first()
    enable_versioning(spark, path)                                  # v1

    # phase 1 — disjoint files: the interleaved writer tombstones the
    # HIGHEST keys (last file) committing v2 while the outer UPDATE
    # (lowest keys, first file) sits between stage and commit; the
    # update's validation sees churn only on a file it never touched
    # and commits v3 (copies + tombstones) with NO retry
    u_attempts: list[int] = []

    def interleave_high(attempt: int) -> None:
        u_attempts.append(attempt)
        if attempt == 1:
            dv_delete_where(
                spark, path, f"c_custkey > {hi} - 3",
                optimistic=True
            )                                                       # v2
    dv_update_where(
        spark, path, {"c_acctbal": "c_acctbal + 1000"},
        f"c_custkey < {lo} + 3",
        _after_stage=interleave_high,
        optimistic=True,
    )                                                               # v3

    # phase 2 — same file: the interleaved writer tombstones the lowest
    # key committing v4; the outer MERGE's tombstones reference that
    # file, so it must lose validation, re-derive (the dead key drops
    # out of the matched set and the disabled insert leg cannot
    # resurrect it), and commit v5 on attempt 2
    m_attempts: list[int] = []

    def interleave_lo(attempt: int) -> None:
        m_attempts.append(attempt)
        if attempt == 1:
            dv_delete_where(
                spark, path, f"c_custkey = {lo}",
                optimistic=True
            )                                                       # v4
    src = (
        t["customer"]
        .where(f"c_custkey < {lo} + 10")
        .selectExpr("c_custkey", "c_acctbal * 2 AS nb")
    )
    dv_merge_into(
        spark, path, src, on=["c_custkey"],
        matched_set={"c_acctbal": "src_nb"},
        insert_condition="false",
        _after_stage=interleave_lo,
        optimistic=True,
    )                                                               # v5

    frames = [
        read_version(spark, path, v)
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("c_acctbal").alias("total"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n", "total")
        for v in (1, 2, 3, 4, 5)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    attempts = values_df(
        spark,
        "version int, n bigint, total double",
        [(91, len(u_attempts), 0.0), (92, len(m_attempts), 0.0)],
    )
    return out.unionByName(attempts).orderBy("version")


_TXN_MULTI_ORACLE = (
    "WITH fbase AS (SELECT o_orderkey, o_custkey, o_totalprice "
    "FROM orders), "
    "fu AS (SELECT o_orderkey, o_custkey, "
    "CASE WHEN o_custkey % 100 = 0 THEN o_totalprice + 10 "
    "ELSE o_totalprice END AS o_totalprice FROM fbase), "
    "fv2 AS (SELECT * FROM fu WHERE NOT (o_orderkey % 1000 = 0)), "
    "fi AS (SELECT * FROM fv2 EXCEPT ALL SELECT * FROM fbase), "
    "fd AS (SELECT * FROM fbase EXCEPT ALL SELECT * FROM fv2), "
    "dbase AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer), "
    "dv2 AS (SELECT c_custkey, c_acctbal, "
    "CASE WHEN c_acctbal > 9000 THEN 'VIP' ELSE c_mktsegment END "
    "AS c_mktsegment FROM dbase), "
    "di AS (SELECT * FROM dv2 EXCEPT ALL SELECT * FROM dbase), "
    "dd AS (SELECT * FROM dbase EXCEPT ALL SELECT * FROM dv2) "
    "SELECT 'dim_cdc_del' AS row_id, CAST(COUNT(*) AS BIGINT) AS n, "
    "COALESCE(" + dsum_sql("c_acctbal") + ", 0.0) AS total FROM dd "
    "UNION ALL SELECT 'dim_cdc_ins', CAST(COUNT(*) AS BIGINT), "
    "COALESCE(" + dsum_sql("c_acctbal") + ", 0.0) FROM di "
    "UNION ALL SELECT 'dim_final', CAST(COUNT(*) AS BIGINT), "
    "COALESCE(" + dsum_sql("c_acctbal") + ", 0.0) FROM dv2 "
    "UNION ALL SELECT 'dim_versions', CAST(2 AS BIGINT), 0.0 "
    "UNION ALL SELECT 'fact_cdc_del', CAST(COUNT(*) AS BIGINT), "
    "COALESCE(" + dsum_sql("o_totalprice") + ", 0.0) FROM fd "
    "UNION ALL SELECT 'fact_cdc_ins', CAST(COUNT(*) AS BIGINT), "
    "COALESCE(" + dsum_sql("o_totalprice") + ", 0.0) FROM fi "
    "UNION ALL SELECT 'fact_final', CAST(COUNT(*) AS BIGINT), "
    "COALESCE(" + dsum_sql("o_totalprice") + ", 0.0) FROM fv2 "
    "UNION ALL SELECT 'fact_versions', CAST(2 AS BIGINT), 0.0 "
    "ORDER BY row_id"
)


@register(
    "mutate_txn_multi",
    oracle=_TXN_MULTI_ORACLE,
    doc="CROSS-TABLE transaction graded end-to-end (new r11, "
    "operators/txn.py begin_multi — beyond both the reference and "
    "Delta, which commit per table): an atomic fact+dim batch — "
    "UPDATE + DELETE on an orders copy, segment re-label on a customer "
    "copy — under ONE begin_multi()/commit(), decided by a two-phase "
    "manifest commit (prepare .prep manifests on every table, one "
    "exclusive-create marker, then renames; crash after the marker "
    "rolls FORWARD, before it rolls BACK).  Each table gains exactly "
    "one version; per-table CDC equals the oracle's composed "
    "update-then-delete fold via EXCEPT ALL.  A second multi-table "
    "batch mutates BOTH tables and ROLLS BACK; the final aggregates "
    "and the version counts (graded rows) prove the rollback restored "
    "both tables and committed nothing anywhere.  All metadata: N "
    "small manifest writes + N renames on top of the verbs",
    tags=("mutate",),
)
def mutate_txn_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import (
        enable_versioning,
        read_changes,
        table_versions,
    )
    from ..operators.txn import begin_multi

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    fact = _mut_dir(sf_dir, "orders_txn_multi")
    dim = _mut_dir(sf_dir, "cust_txn_multi")
    (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(fact)
    )
    (
        t["customer"]
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .parquet(dim)
    )
    enable_versioning(spark, fact)                                  # v1
    enable_versioning(spark, dim)                                   # v1
    with begin_multi(spark, [fact, dim]):
        update_where(
            spark, fact, {"o_totalprice": "o_totalprice + 10"},
            "o_custkey % 100 = 0",
        )
        delete_where(spark, fact, "o_orderkey % 1000 = 0")
        update_where(
            spark, dim, {"c_mktsegment": "'VIP'"}, "c_acctbal > 9000"
        )                                                           # -> v2, v2
    vs_f, vs_d = table_versions(spark, fact), table_versions(spark, dim)
    assert vs_f == [1, 2] and vs_d == [1, 2], (vs_f, vs_d)
    # second cross-table batch rolls back: NOTHING commits anywhere
    txn = begin_multi(spark, [fact, dim])
    delete_where(spark, fact, "o_orderkey >= 0")
    update_where(spark, dim, {"c_acctbal": "0.0"}, "c_custkey >= 0")
    txn.rollback()

    ins = F.col("_change_type") == "insert"
    dele = F.col("_change_type") == "delete"

    def cdc_rows(path: str, tag: str, val: str) -> DataFrame:
        ch = read_changes(spark, path, 1, 2)
        return (
            ch.agg(
                F.count(F.when(dele, 1)).cast("long").alias("del_n"),
                F.coalesce(
                    dsum(F.when(dele, F.col(val))), F.lit(0.0)
                ).alias("del_total"),
                F.count(F.when(ins, 1)).cast("long").alias("ins_n"),
                F.coalesce(
                    dsum(F.when(ins, F.col(val))), F.lit(0.0)
                ).alias("ins_total"),
            )
            .selectExpr(
                f"stack(2, '{tag}_cdc_del', del_n, del_total, "
                f"'{tag}_cdc_ins', ins_n, ins_total) "
                "AS (row_id, n, total)"
            )
        )

    def final_rows(path: str, tag: str, val: str) -> DataFrame:
        live = spark.read.parquet(path)
        n_vs = len(table_versions(spark, path))
        agg = live.agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(dsum(val), F.lit(0.0)).alias("total"),
        ).select(F.lit(f"{tag}_final").alias("row_id"), "n", "total")
        vrow = values_df(
            spark,
            "row_id string, n bigint, total double",
            [(f"{tag}_versions", n_vs, 0.0)],
        )
        return agg.unionByName(vrow)

    out = (
        cdc_rows(fact, "fact", "o_totalprice")
        .unionByName(cdc_rows(dim, "dim", "c_acctbal"))
        .unionByName(final_rows(fact, "fact", "o_totalprice"))
        .unionByName(final_rows(dim, "dim", "c_acctbal"))
    )
    return out.orderBy("row_id")


@register(
    "mutate_retention_vacuum",
    oracle="SELECT o_orderstatus, "
    "CASE WHEN o_totalprice > 250000 THEN '5-LOW' ELSE o_orderpriority END "
    "AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
    + dsum_sql("o_totalprice")
    + " AS total, "
    "CAST(1 AS BIGINT) AS versions_kept, "
    "CAST(2 AS BIGINT) AS versions_dropped, "
    "TRUE AS reclaimed_files, "
    "TRUE AS survivor_reads_exact "
    "FROM orders "
    "WHERE NOT COALESCE(o_orderstatus = 'O' AND o_totalprice < 40000, FALSE) "
    "GROUP BY 1, 2 ORDER BY 1, 2",
    doc="version-log RETENTION lifecycle (r12, the graded form of "
    "drop_versions_before + vacuum): enable versioning on a range-"
    "clustered orders copy (v1), DELETE (v2), UPDATE (v3), then drop "
    "all but the newest manifest (the oldest survivor is materialized "
    "as a full checkpoint first, so its delta chain cannot dangle) and "
    "VACUUM the retired files only the dropped versions referenced.  "
    "The grouped fold grades the POST-VACUUM table's content against "
    "the oracle's algebraic fold of the original fixture — if vacuum "
    "reclaimed a live byte the aggregate diverges — and the pinned "
    "guard columns prove exactly two manifests dropped, one kept, at "
    "least one retired file reclaimed, and that read_version of the "
    "surviving version is still row-for-row identical to the live "
    "table after the purge (symmetric exceptAll).  At 100 TB this is "
    "the retention story: manifest folding is one forward metadata "
    "pass and vacuum deletes only provably-unreferenced bytes",
    tags=("mutate",),
)
def mutate_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import (
        drop_versions_before,
        enable_versioning,
        read_version,
        table_versions,
        vacuum,
    )

    t = load_tables(spark, sf_dir, ("orders",))
    path = _mut_dir(sf_dir, "orders_retention")
    (
        t["orders"]
        .repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    enable_versioning(spark, path)  # v1
    delete_where(spark, path, "o_orderstatus = 'O' AND o_totalprice < 40000")
    update_where(
        spark, path, {"o_orderpriority": "'5-LOW'"}, "o_totalprice > 250000"
    )  # v3
    dropped = drop_versions_before(spark, path, keep_last=1)
    reclaimed = vacuum(spark, path)
    vs = table_versions(spark, path)
    live = spark.read.parquet(path)
    survivor = read_version(spark, path, vs[-1])
    survivor_ok = (
        survivor.exceptAll(live).count() == 0
        and live.exceptAll(survivor).count() == 0
    )
    return (
        live.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .withColumn("versions_kept", F.lit(len(vs)).cast("long"))
        .withColumn("versions_dropped", F.lit(dropped).cast("long"))
        .withColumn("reclaimed_files", F.lit(bool(reclaimed > 0)))
        .withColumn("survivor_reads_exact", F.lit(bool(survivor_ok)))
        .orderBy("o_orderstatus", "o_orderpriority")
    )
