"""Caches under the engine session's defaults (``session._DEFAULTS``): AQE
coalesces a persisted plan's final shuffle to its data's size, an explicit
``repartition(n, col)`` layout survives the persist, and the generated-code
cache holds a working set larger than Spark's default of 100 classes."""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import functions as F


def _group_jobs_and_tasks(spark, action) -> tuple[int, int]:
    """Jobs and completed tasks of ``action()``, counted under a one-off
    job group from the status tracker."""
    sc = spark.sparkContext
    group = f"cache-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "cached frame read")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in jobs:
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                tasks += st.numCompletedTasks
    return len(jobs), tasks


def _paths_to(plan, leaf: str, path=()):
    """Node-name paths from ``plan``'s root down to every ``leaf`` node,
    looking through AQE's wrapper and its query stages."""
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        yield from _paths_to(plan.executedPlan(), leaf, path)
        return
    if name.endswith("QueryStage"):
        yield from _paths_to(plan.plan(), leaf, path + (name,))
        return
    path = path + (name,)
    if name == leaf:
        yield path
    children = plan.children()
    for i in range(children.size()):
        yield from _paths_to(children.apply(i), leaf, path)


def test_cached_aggregate_is_coalesced(spark):
    """A persisted aggregate over a shuffle is stored at its data's size,
    so a later read is one job of at most ``defaultParallelism`` tasks —
    not ``spark.sql.shuffle.partitions`` blocks read in two jobs."""
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        assert df.count() == 7
        jobs, tasks = _group_jobs_and_tasks(spark, df.count)
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert jobs == 1
        assert tasks <= spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() < shuffle_parts
    finally:
        df.unpersist()


def test_persisted_repartition_keeps_its_layout(spark):
    """``repartition(n, col).persist()`` (the ``edges`` frames of
    ``operators/dedup.py``) keeps ``n`` partitions, and a join on ``col``
    reads the cache without a second exchange: AQE must not coalesce an
    explicit repartition count."""
    n = spark.sparkContext.defaultParallelism
    edges = (
        spark.range(1000)
        .select((F.col("id") % 50).alias("src"), F.col("id").alias("dst"))
        .repartition(n, "src")
        .persist()
    )
    labels = spark.range(50).withColumnRenamed("id", "doc")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert edges.count() == 1000
        assert edges.rdd.getNumPartitions() == n
        joined = edges.join(labels, edges["src"] == labels["doc"])
        assert len(joined.collect()) == 1000
        plan = joined._jdf.queryExecution().executedPlan()
        paths = list(_paths_to(plan, "InMemoryTableScan"))
        assert paths, plan.toString()
        for path in paths:
            assert "SortMergeJoin" in path, plan.toString()
            above_scan = path[path.index("SortMergeJoin"):]
            assert not any("Exchange" in node for node in above_scan), (
                plan.toString()
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        edges.unpersist()


def test_codegen_cache_holds_a_warm_pass(spark):
    """A session that cycles through more distinct generated classes than
    Spark's default cache size (100) compiles nothing on its second pass.
    Each query unions six one-partition ranges whose generated classes
    differ by the literal inlined into each branch, and reads them in one
    task: 20 cheap jobs and 240 classes per pass, no shuffle."""
    metric = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass() -> int:
        before = metric.getCount()
        for q in range(20):
            branches = [
                spark.range(0, 4, 1, 1).select(
                    (F.col("id") * (1000 + 6 * q + i)).alias("v")
                )
                for i in range(6)
            ]
            df = functools.reduce(lambda a, b: a.union(b), branches)
            assert len(df.coalesce(1).collect()) == 24
        return metric.getCount() - before

    assert one_pass() > 100  # the first pass compiles the working set
    assert one_pass() == 0
