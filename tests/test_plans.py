"""Plan-quality guards: the physical plans the engine produces must be the
plans you'd want at 100 TB — pushdown reaching the scan, dims broadcast,
codegen on the hot path, and no accidental cartesian products anywhere in
the inventory."""

from __future__ import annotations

import pytest

from sql_query_optimizer_cpp_spark.inventory import all_queries

from .conftest import SF_DIR

QUERIES = all_queries()

#: Queries where a nested-loop/cartesian strategy is the *intended* plan:
#: an explicit cross join, or a small broadcast side with a non-equi
#: condition (brute-force similarity scoring against a broadcast query set).
NESTED_LOOP_OK = {
    "join_cross",
    "sim_topk_bruteforce",  # broadcast query set, != condition
    "scan_star",  # no join at all; listed for clarity only
}


def _physical(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_accidental_cartesian(spark, name):
    plan = _physical(spark, name)
    if name in NESTED_LOOP_OK:
        return
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if "BroadcastNestedLoopJoin" in plan:
        # acceptable only when one side is a broadcast of a tiny relation
        assert "BroadcastExchange" in plan, (
            f"{name} nested-loop joins without broadcasting the small side"
        )


def test_tpch_q1_scan_shape(spark):
    df = QUERIES["tpch_q1"].fn(spark, SF_DIR)
    df.count()  # materialize so AQE finalizes and codegen spans appear
    plan = df._jdf.queryExecution().executedPlan().toString()
    # filter pushed to parquet
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: 7 of 11 lineitem columns read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," in plan
    # map-side partial aggregation before the shuffle (partial_sum in the
    # lower HashAggregate; AQE's plan string hides WholeStageCodegen spans
    # until finalization, so codegen is asserted via the agg structure)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan


def test_tpch_q3_broadcasts_dimension(spark):
    plan = _physical(spark, "tpch_q3")
    assert "BroadcastHashJoin" in plan
    # top-k fused: no global sort of the full aggregate output
    assert "TakeOrderedAndProject" in plan


def test_topk_fuses(spark):
    plan = _physical(spark, "topk")
    assert "TakeOrderedAndProject" in plan


def test_join_inner_broadcasts(spark):
    plan = _physical(spark, "join_inner")
    assert "BroadcastHashJoin" in plan


def test_flagship_no_subquery_in_physical(spark):
    plan = _physical(spark, "flagship_demo")
    # both scalar subqueries decorrelated into LeftSingle hash joins:
    # no Subquery node survives, so nothing re-executes per row
    assert "Subquery" not in plan
    assert "LeftSingle" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_minhash_parallel_hashing(spark):
    """The hash-heavy shingle explosion must not be confined to the input
    split count (1 local file) — the repartition guard keeps it spread."""
    df = QUERIES["dedup_minhash_pairs"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan

def test_join_strategy_hints(spark):
    """J7/J8/J9: the reference cost-modeled nested-loop/hash/merge joins but
    always instantiated nested-loop (SURVEY §4.3); Spark picks per stats and
    honors explicit strategy hints."""
    from sql_query_optimizer_cpp_spark.catalog import load_tables

    t = load_tables(spark, SF_DIR, ("customer", "orders"))
    c, o = t["customer"], t["orders"]
    cond = c.c_custkey == o.o_custkey

    merge = o.join(c.hint("merge"), cond)
    assert "SortMergeJoin" in merge._jdf.queryExecution().executedPlan().toString()

    shuffle_hash = o.join(c.hint("shuffle_hash"), cond)
    assert "ShuffledHashJoin" in shuffle_hash._jdf.queryExecution().executedPlan().toString()

    bcast = o.join(c.hint("broadcast"), cond)
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()


def test_stratified_sample_no_shuffle(spark):
    """The sampling decision is a map-side filter: no Exchange anywhere —
    the property that makes it free at 100 TB."""
    plan = _physical(spark, "sample_stratified")
    assert "Exchange" not in plan


def test_pack_sequences_single_shard_shuffle(spark):
    """Exactly one shuffle (hash on shard for the window); the cumsum sorts
    locally inside each shard partition."""
    plan = _physical(spark, "pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_decontaminate_broadcasts_probes(spark):
    """The probe split must broadcast (tiny side) so the shingle equi-join
    never shuffles the training corpus against it."""
    plan = _physical(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan


def test_tpch_q7_broadcasts_nation_dims(spark):
    """Both nation dimension joins (supplier side and customer side) must
    broadcast — the fact table shuffles only for the fact-fact join."""
    plan = _physical(spark, "tpch_q7")
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q10_topk_fuses(spark):
    plan = _physical(spark, "tpch_q10")
    assert "TakeOrderedAndProject" in plan


def test_tpch_q4_and_q18_semi_join(spark):
    """EXISTS (q4) and IN-over-aggregate (q18) must decorrelate to semi
    joins, never re-execute the subquery per row."""
    for name in ("tpch_q4", "tpch_q18"):
        plan = _physical(spark, name)
        assert "LeftSemi" in plan, name
        assert "InSubquery" not in plan and "exists" not in plan.lower(), name


def test_tpch_q19_pushes_disjunction_factors(spark):
    """Q19's cross-table OR-of-ANDs is not factorable by Catalyst, so the
    query states the implied per-side conjuncts explicitly — both scans
    must show them as PushedFilters (brand IN-list on part, quantity range
    on lineitem), with a hash equi-join on partkey."""
    plan = _physical(spark, "tpch_q19")
    assert "In(p_brand" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_events_funnel_single_effective_key(spark):
    """The funnel's three stage frames and both joins all key on user_id;
    no stage may introduce a cartesian or nested-loop strategy."""
    plan = _physical(spark, "events_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stats_mcv_topk_fuses(spark):
    """MCV histogram = partial count + top-k: TakeOrderedAndProject, and
    the scan reads only the histogrammed column."""
    plan = _physical(spark, "stats_mcv_topk")
    assert "TakeOrderedAndProject" in plan
    assert "ReadSchema: struct<p_brand:string>" in plan


def test_range_join_is_equi_join(spark):
    """J10 range join: the binned rewrite must execute as a HASH equi-join
    on the bin id — never the BroadcastNestedLoopJoin Spark would plan for
    a raw range predicate.  That's the whole point of the operator: at
    100 TB the interval side can't nested-loop."""
    plan = _physical(spark, "join_range")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # Broadcast- or Shuffled-, either is equi


def test_multimodal_ops_no_shuffle(spark):
    """resize/features/frame-sample are mapInPandas over the scan: zero
    Exchange (embarrassingly parallel at 100 TB); the driver queries add
    at most the posexplode projection, still shuffle-free."""
    for name in ("multimodal_resize", "multimodal_features", "multimodal_frame_sample"):
        plan = _physical(spark, name)
        assert "Exchange" not in plan, f"{name} shuffles"
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, (
            f"{name} lost its Arrow-batched python stage"
        )


def test_rollup_scans_raw_once(spark):
    """The hypertable rollup's whole point: one raw scan (hour partials),
    coarser grains read the persisted partials, not the parquet."""
    df = QUERIES["events_rollup_hypertable"].fn(spark, SF_DIR)
    df.count()  # materialize so the cache is populated and AQE finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    # BOTH grain branches read the persisted hour partials: the raw
    # FileScan appears only inside the InMemoryRelation's build plan
    # (printed per branch), never as a live scan of its own.
    assert plan.count("InMemoryTableScan") == 2, plan
    from sql_query_optimizer_cpp_spark.operators.cache import release_cached
    assert release_cached() >= 1


def test_runtime_bloom_filter_reduction(spark):
    """At 100 TB the killer join pattern is fact ⋈ selectively-filtered
    dim where the dim is too big to broadcast: Spark injects a runtime
    bloom filter built from the dim's join keys into the fact scan
    (semi-join reduction), cutting the shuffled fact volume by the dim
    filter's selectivity.  The conf is ON by default; its application-side
    size threshold (10 GB) is what keeps it out of local toy plans, so
    lower it here to prove the rewrite fires."""
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.catalog import load_tables

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # else broadcast wins
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        t = load_tables(spark, SF_DIR, ("orders", "lineitem"))
        j = t["lineitem"].join(
            t["orders"].filter("o_orderstatus = 'F'"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "BloomFilterMightContain" in plan or "bloomFilter" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch_q2_decorrelates_min_subquery(spark):
    """Q2's correlated MIN-cost subquery must decorrelate to a per-part
    aggregate joined back on ps_partkey — no Subquery node may survive to
    re-execute per row — and the LIMIT 100 must fuse into top-k."""
    plan = _physical(spark, "tpch_q2")
    assert "Subquery" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q8_q9_broadcast_dims(spark):
    """The 8-table (q8) and 6-table (q9) stars must broadcast every
    dimension side; the only shuffles are fact-fact joins and the final
    aggregate."""
    for name, min_bcast in (("tpch_q8", 5), ("tpch_q9", 4)):
        plan = _physical(spark, name)
        assert plan.count("BroadcastHashJoin") >= min_bcast, name


def test_tpch_q11_q15_scalar_subquery_runs_once(spark):
    """The uncorrelated threshold (q11) / MAX (q15) scalar subqueries must
    plan as a single Subquery node (one extra job), never a per-row
    re-execution strategy: no nested-loop join against the subquery
    result."""
    for name in ("tpch_q11", "tpch_q15"):
        plan = _physical(spark, name)
        assert "Subquery" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_tpch_q20_nested_in_becomes_semi(spark):
    """Both nested IN subqueries (parts inside the supplier filter) must
    become semi joins."""
    plan = _physical(spark, "tpch_q20")
    assert "LeftSemi" in plan
    assert "InSubquery" not in plan


def test_curation_pipeline_single_scan_two_shuffles(spark):
    """The e2e curation pass must stay linear: ONE corpus scan, ZERO
    joins, and exactly two hash shuffles (content-hash window for dedup,
    shard window for packing).  Join-backs on doc_id would re-scan the
    corpus and re-run the regex-heavy quality expressions per stage —
    the difference between 1 and ~4 corpus passes at 100 TB."""
    plan = _physical(spark, "curation_pipeline_e2e")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_redact_pii_no_shuffle(spark):
    """Redaction is a regexp_replace chain over the scan: zero Exchange —
    embarrassingly parallel at any scale."""
    plan = _physical(spark, "text_redact_pii")
    assert "Exchange" not in plan


def test_sample_fixed_k_single_shuffle(spark):
    """Exactly one hash shuffle (the per-stratum rank window); the k
    filter runs inside the window stage."""
    plan = _physical(spark, "sample_fixed_k")
    assert plan.count("Exchange hashpartitioning") == 1


def test_text_repetition_no_shuffle(spark):
    """Per-row array expressions only: zero Exchange."""
    plan = _physical(spark, "text_repetition")
    assert "Exchange" not in plan


def test_events_latest_by_user_single_shuffle(spark):
    """CDC-snapshot compaction: one hash shuffle on the key, the rank
    filter inside the window stage, no join-back."""
    plan = _physical(spark, "events_latest_by_user")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_corpus_mix_report_partial_agg(spark):
    """Map-side combine before the one shuffle: bytes to the reducers are
    proportional to (lang, source) cardinality, not corpus size."""
    plan = _physical(spark, "corpus_mix_report")
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan
    assert "partial" in plan


def test_tpch_q5_broadcasts_dims(spark):
    """Q5's 6-table star must broadcast its dimension sides (region,
    nation, supplier, customer are all far below the broadcast threshold
    at any realistic sf) — pinned so a conf regression (e.g. someone
    zeroing autoBroadcastJoinThreshold session-wide) can't silently turn
    the star into a chain of full shuffles.  AQE may upgrade more joins
    at tiny sf; >= 3 is the floor that must hold at 100 TB too."""
    plan = _physical(spark, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 3


def test_boilerplate_ngrams_topk_fuses(spark):
    """The ranked boilerplate readout must fuse ORDER BY+LIMIT into
    TakeOrderedAndProject (top-100 held per partition, merged once) —
    a global sort of the distinct-gram table would shuffle it all."""
    plan = _physical(spark, "text_boilerplate_ngrams")
    assert "TakeOrderedAndProject" in plan


def test_table_storage_report_dv_dead_fraction(spark, tmp_path):
    """plans.cost.table_storage_report prices the STORAGE layer: live vs
    tombstoned rows, DV batches, versions, and the materialize hint once
    the dead fraction crosses 10% — metadata-only (footer counts)."""
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        enable_versioning,
    )
    from sql_query_optimizer_cpp_spark.plans.cost import (
        table_storage_report,
    )

    path = str(tmp_path / "cost_dv")
    spark.range(100).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).repartitionByRange(4, "k").write.parquet(path)
    enable_versioning(spark, path)
    r0 = table_storage_report(spark, path)
    assert r0.dead_rows == 0 and r0.hint == "" and r0.rows == 100
    assert r0.versions == 1 and r0.files == 4
    # light tombstoning: informational note, no materialize push
    dv_delete_where(spark, path, "k = 0")
    r1 = table_storage_report(spark, path)
    assert r1.dead_rows == 1 and r1.rows == 99
    assert "note:" in r1.hint and "materialize_deletes" in r1.hint
    # heavy tombstoning: dead fraction >= 10% -> explicit hint
    dv_delete_where(spark, path, "k < 30")
    r2 = table_storage_report(spark, path)
    assert r2.dead_rows == 30 and r2.rows == 70
    assert r2.dead_fraction == 0.3
    assert "hint:" in r2.hint and "materialize_deletes" in r2.hint
    assert r2.top_dead_files and r2.top_dead_files[0][1] >= 1
    rendered = r2.render()
    assert "30.0%" in rendered and "materialize_deletes" in rendered


def test_repl_cost_on_attached_table(spark, tmp_path):
    """REPL: COST <attached table> routes to the storage report; COST
    <query> still prices the plan."""
    from sql_query_optimizer_cpp_spark.engine import Engine
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where
    from sql_query_optimizer_cpp_spark.repl import handle

    from .conftest import SF_DIR

    engine = Engine(spark, sf_dir=SF_DIR)
    path = str(tmp_path / "repl_cost_dv")
    spark.range(50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    tables: dict[str, str] = {}
    handle(engine, f"ATTACH ct {path}", tables)
    dv_delete_where(spark, path, "k < 10")
    out = handle(engine, "COST ct", tables)
    assert "dead rows" in out and "20.0%" in out
    assert "materialize" in out
    out_q = handle(engine, "COST SELECT * FROM region", tables)
    assert "TOTAL" in out_q
