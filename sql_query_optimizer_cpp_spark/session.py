"""SparkSession factory with scale-oriented defaults.

The reference engine holds a ``MySQLConnector`` as its session object
(``engine/include/mysql_connector.h:10-69``) and a string->variant Config
(``engine/include/config.h:10-28``).  Our session object is a
:class:`pyspark.sql.SparkSession` configured so that every optimization the
reference performs by hand is switched on in Catalyst:

- CBO + join reordering (reference: Selinger-style DP, ``sqlopt.cpp:607-670``)
- histogram statistics (reference: top-K MCV histograms,
  ``engine/src/statistics_manager.cpp:95-109``)
- AQE for runtime re-planning, partition coalescing, and skew-join handling
  (no reference equivalent; required at 100 TB)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local[$SPARK_GRAFT_CPUS] testing; on a real cluster the
# same knobs apply, only master/memory change.
_DEFAULTS: dict[str, str] = {
    # Spark's 1g driver default is sized for a thin cluster client, not a
    # local[32] engine: one long-lived session that plans/caches hundreds
    # of distinct queries (broadcasts, cached frames, AQE stats) will
    # eventually OOM the 1g JVM — observed as a mid-suite py4j
    # ConnectionRefused cascade.  Compiled codegen classes load into
    # Metaspace, outside this heap; their cache is bounded below.
    # Builder-time only; ignored by already-running embedder JVMs.
    "spark.driver.memory": "8g",
    # Spark keeps compiled whole-stage and expression classes in one
    # JVM-wide LRU cache of this many entries; its default is 100.  One
    # perfbench olap_interactive pass needs about 186 distinct classes
    # (2 for scalar_subquery_agg, 21 for tpch_q5), so at 100 a session
    # cycling through the queries evicts most classes before they are
    # reused and recompiles 138-184 of them through Janino on each warm
    # pass (4-vCPU host, sf0.01); at 1000 a warm pass compiles none.  A
    # lakehouse_rw pass still compiles 20-40 one-off classes (17 per
    # copy-on-write MERGE) that no cache size reuses: per-statement
    # literals inlined into generated code.  Builder-time only (a static
    # conf); an embedder's already-running JVM keeps its own value.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # A fixed 32, not the core count: AQE coalesces every reduce side
    # (caches included, below), so the count bounds the task count rather
    # than setting it.  Interleaved A/Bs of 32 against 2 over the 19
    # perfbench olap_interactive ops (4-vCPU host, 2 Spark cores, caches
    # coalesced on both sides) moved their pass CPU by at most 3% (32 -> 2:
    # 7.00 s -> 6.79 s in one A/B, 7.03 s -> 7.00 s in another), no single
    # op beyond noise.  At 100 TB size it to ~2-3x total executor cores (AQE
    # coalesces down, so err high).
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce a persisted plan's final shuffle like any other
    # query output.  Spark's default (false) stores every persist() over a
    # shuffle as exactly spark.sql.shuffle.partitions blocks, so each later
    # read schedules 32 tasks in 2 jobs whatever the frame's size; coalesced,
    # a small cache is one block read by one task.  An explicit
    # repartition(n, ...) count is kept (AQE does not coalesce a shuffle
    # whose partition count the query fixed), so the co-partitioned
    # layouts operators/dedup.py persists still join without a second
    # exchange (tests/test_session.py).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.statistics.histogram.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB input splits: good parallelism on sf0.1 while keeping task count
    # sane; at 100 TB the same value yields ~1.6M tasks over the job which is
    # what a 1000-executor cluster wants.
    "spark.sql.files.maxPartitionBytes": "67108864",
    "spark.ui.enabled": "false",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot map to its
    # microsecond TimestampType; read as int64 and convert in catalog.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(
    app_name: str = "sql_query_optimizer_cpp_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``extra_conf`` entries override the engine defaults, mirroring the
    reference's Config key-value override surface
    (``engine/src/config.cpp:5-15``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    # per-process warehouse keeps ANALYZE'd managed tables out of the repo
    # and avoids stale-location collisions across runs
    conf.setdefault(
        "spark.sql.warehouse.dir", f"/tmp/sqoc-warehouse-{os.getpid()}"
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
