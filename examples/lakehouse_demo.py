#!/usr/bin/env python
"""Narrative demo of the copy-on-write DML layer — the capability the
reference only parses (engine/src/parser.cpp:232-296), executed.

Walks a parquet table through the lakehouse lifecycle:

1. materialize orders range-clustered on the mutation key,
2. snapshot v1,
3. DELETE + UPDATE copy-on-write (file-pruned; stats show how few files
   each verb actually rewrote),
4. MERGE an upsert batch (matched update + fresh inserts),
5. time-travel back to v1 while the live table shows the mutations,
6. compact the small files the DML created,
7. vacuum after dropping the snapshot,
8. enable the auto-version log: later DML commits numbered versions
   (MVCC for readers), retention via drop_versions_before + vacuum.

Usage: python examples/lakehouse_demo.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from sql_query_optimizer_cpp_spark.catalog import load_tables
from sql_query_optimizer_cpp_spark.operators.mutate import (
    compact,
    delete_where,
    merge_into,
    update_where,
)
from sql_query_optimizer_cpp_spark.operators.versioning import (
    create_snapshot,
    drop_snapshot,
    read_snapshot,
    vacuum,
)
from sql_query_optimizer_cpp_spark.session import get_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session(app_name="lakehouse-demo")
    path = tempfile.mkdtemp() + "/orders"

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    (
        orders.repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.parquet(path)
    )
    n0 = spark.read.parquet(path).count()
    print(f"table: {n0} rows, 8 files range-clustered on o_totalprice\n")

    print(f"snapshot v1 pinned ({create_snapshot(spark, path, 'v1')} files)\n")

    st = delete_where(
        spark, path, "o_orderstatus = 'F' AND o_totalprice < 50000", retain=True
    )
    print(f"DELETE low-value finished orders: {st.render()}")

    st = update_where(
        spark, path, {"o_orderpriority": "'1-URGENT'"},
        "o_totalprice > 400000", retain=True,
    )
    print(f"UPDATE top-price priorities:      {st.render()}")

    upsert = spark.createDataFrame(
        [(10_000_001, 0, "O", 123456.78, None, "5-LOW"),
         (10_000_002, 1, "O", 234567.89, None, "5-LOW")],
        orders.schema,
    )
    st = merge_into(
        spark, path, upsert, on=["o_orderkey"],
        matched_set={"o_totalprice": "src_o_totalprice"},
        retain=True,
    )
    print(f"MERGE upsert batch:               {st.render()}\n")

    live = spark.read.parquet(path)
    old = read_snapshot(spark, path, "v1")
    print(f"live rows: {live.count()}   time-travel v1 rows: {old.count()}")
    print(
        "urgent now:",
        live.where("o_orderpriority = '1-URGENT'").count(),
        "  urgent in v1:",
        old.where("o_orderpriority = '1-URGENT'").count(),
        "\n",
    )

    st = compact(spark, path, target_bytes=8 * 1024 * 1024)
    print(f"OPTIMIZE (compact):               {st.render()}")

    drop_snapshot(spark, path, "v1")
    print(f"vacuum after dropping v1:         {vacuum(spark, path)} files reclaimed")

    # 8. version log: every further mutation auto-commits a numbered
    #    version inside the writer lock — MVCC for readers
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        drop_versions_before,
        enable_versioning,
        read_version,
        table_versions,
    )

    enable_versioning(spark, path)
    delete_where(spark, path, "o_totalprice > 400000")
    update_where(
        spark, path, {"o_orderpriority": "'2-HIGH'"}, "o_orderpriority = '5-LOW'"
    )
    print(
        f"\nversion log: {table_versions(spark, path)} "
        f"(v1 rows {read_version(spark, path, 1).count()}, "
        f"latest rows {read_version(spark, path).count()})"
    )
    dropped = drop_versions_before(spark, path, keep_last=1)
    print(f"retention: dropped {dropped} old versions, "
          f"vacuum reclaimed {vacuum(spark, path)} files")

    # 9. RESTORE: roll the table back to the pre-mutation version as a
    #    NEW commit — metadata-only renames, history preserved
    from sql_query_optimizer_cpp_spark.operators.versioning import (
        restore_version,
    )

    delete_where(spark, path, "o_orderstatus = 'F'")
    vs = table_versions(spark, path)
    target = vs[-2] if len(vs) > 1 else vs[-1]
    st = restore_version(spark, path, target)
    print(
        f"\nRESTORE to v{target}: {st.files_rewritten} files changed "
        f"liveness (no data read/copied); rows back to "
        f"{spark.read.parquet(path).count()}"
    )

    # 10. merge-on-read on a separate table: tombstones instead of
    #     rewrites, then a ratio-gated materialize
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_count,
        dv_delete_where,
        materialize_deletes,
        read_mor,
    )

    with tempfile.TemporaryDirectory() as d2:
        mor_path = f"{d2}/orders_mor"
        spark.read.parquet(path).repartition(6).write.parquet(mor_path)
        n = dv_delete_where(
            spark, mor_path, "o_totalprice < 50000"
        ).rows_matched
        print(
            f"\nmerge-on-read DELETE: {n} rows tombstoned "
            f"({dv_count(spark, mor_path)} vector entries, 0 files "
            f"rewritten); read_mor rows: {read_mor(spark, mor_path).count()}"
        )

        # 11. bloom file index on the same 6-file table: point lookups
        #     on a column the layout does not cluster read only the
        #     files whose filter admits the value — and the index read
        #     composes with the live deletion vectors
        from sql_query_optimizer_cpp_spark.operators.fileindex import (
            build_bloom_index,
            probe_files,
            read_point_lookup,
        )
        from sql_query_optimizer_cpp_spark.operators.mutate import (
            list_data_files,
        )

        build_bloom_index(spark, mor_path, "o_orderkey", num_bits=None)
        key = read_mor(spark, mor_path).first()["o_orderkey"]
        cand = probe_files(spark, mor_path, "o_orderkey", key)
        total = len(list_data_files(spark, mor_path))
        print(
            f"bloom index on o_orderkey: lookup key {key} reads "
            f"{len(cand)}/{total} files -> "
            f"{read_point_lookup(spark, mor_path, 'o_orderkey', key).count()}"
            " row(s), tombstones applied"
        )

        st = materialize_deletes(spark, mor_path)
        print(f"materialize: rewrote {st.files_rewritten} tombstoned files")

    # 12. r9 unification: deletion vectors are first-class COMMITS — a
    #     versioned table time-travels, CDCs, and restores across them,
    #     and MERGE itself runs merge-on-read (zero file rewrites)
    from sql_query_optimizer_cpp_spark.operators.mor import dv_merge_into
    from sql_query_optimizer_cpp_spark.operators.versioning import read_changes

    with tempfile.TemporaryDirectory() as d3:
        uni = f"{d3}/orders_uni"
        spark.read.parquet(path).repartition(4).write.parquet(uni)
        enable_versioning(spark, uni)                               # v1
        st = dv_delete_where(spark, uni, "o_orderstatus = 'F'")     # v2
        n = st.rows_matched
        # derive the source from the LIVE state (read_mor): a base read
        # would still see the rows v2 tombstoned, and the merge's insert
        # leg would resurrect them as NULL-padded junk
        src = (
            read_mor(spark, uni)
            .where("o_orderkey % 97 = 0")
            .selectExpr("o_orderkey", "o_totalprice * 0 AS o_totalprice")
        )
        st = dv_merge_into(
            spark, uni, src, on=["o_orderkey"],
            matched_set={"o_totalprice": "src_o_totalprice"},
        )                                                           # v3
        print(
            f"\nunified MOR: dv_delete committed v2 ({n} tombstones), "
            f"MOR MERGE committed v3 ({st.rows_matched} matched, "
            f"{st.files_rewritten} files rewritten — zero by design)"
        )
        v1_n = read_version(spark, uni, 1).count()
        v2_n = read_version(spark, uni, 2).count()
        deletes = (
            read_changes(spark, uni, 1, 2)
            .where("_change_type = 'delete'")
            .count()
        )
        print(
            f"time travel: v1={v1_n} rows, v2={v2_n} rows; CDC v1->v2 "
            f"emits {deletes} deletes (the tombstoned rows)"
        )
        restore_version(spark, uni, 1)                              # v4
        print(
            f"RESTORE to v1 un-deletes through the SAME metadata plan: "
            f"{read_mor(spark, uni).count()} rows live again"
        )

    # 13. r10: multi-statement TRANSACTIONS — several verbs, ONE version;
    #     CDC over it is the composed diff; rollback restores the table
    from sql_query_optimizer_cpp_spark.operators.txn import begin

    with tempfile.TemporaryDirectory() as d4:
        tx = f"{d4}/orders_tx"
        spark.read.parquet(path).repartition(4).write.parquet(tx)
        enable_versioning(spark, tx)                                # v1
        with begin(spark, tx):
            delete_where(spark, tx, "o_totalprice < 20000")
            update_where(
                spark, tx, {"o_orderpriority": "'1-URGENT'"},
                "o_totalprice > 300000",
            )
            dv_delete_where(spark, tx, "o_orderkey % 500 = 0")
        vs = table_versions(spark, tx)
        net = read_changes(spark, tx, 1, 2).count()
        print(
            f"\ntransaction: DELETE + UPDATE + dv_delete committed as ONE "
            f"version (log = {vs}); CDC v1->v2 nets {net} row changes"
        )
        n_before = read_mor(spark, tx).count()
        txn = begin(spark, tx)
        dv_delete_where(spark, tx, "o_orderkey >= 0")  # tombstone all
        txn.rollback()
        print(
            f"rollback: table back to {read_mor(spark, tx).count()} rows "
            f"(= {n_before}), version log still {table_versions(spark, tx)}"
        )

    # 14. r11: CROSS-TABLE transactions — one atomic commit spanning a
    #     fact and a dimension table (two-phase manifest commit: prepare
    #     every table's next manifest, decide with one marker, rename)
    from sql_query_optimizer_cpp_spark.operators.txn import begin_multi

    with tempfile.TemporaryDirectory() as d5:
        facts = f"{d5}/facts"
        dims = f"{d5}/dims"
        spark.read.parquet(path).repartition(4).write.parquet(facts)
        spark.range(10).selectExpr(
            "id AS dim_id", "CAST(id AS DOUBLE) AS weight"
        ).coalesce(1).write.parquet(dims)
        enable_versioning(spark, facts)                             # v1
        enable_versioning(spark, dims)                              # v1
        with begin_multi(spark, [facts, dims]):
            delete_where(spark, facts, "o_totalprice < 10000")
            update_where(spark, dims, {"weight": "weight * 2"}, "dim_id < 3")
        print(
            f"\ncross-table txn: facts log={table_versions(spark, facts)}, "
            f"dims log={table_versions(spark, dims)} — one atomic commit, "
            "decided by a single marker file (crash after it rolls "
            "FORWARD via recover_tables, before it rolls back)"
        )
        txn = begin_multi(spark, [facts, dims])
        delete_where(spark, facts, "o_orderkey >= 0")
        update_where(spark, dims, {"weight": "0.0"}, "dim_id >= 0")
        txn.rollback()
        print(
            f"cross-table rollback: facts={spark.read.parquet(facts).count()} "
            f"rows, dims weight sum="
            f"{spark.read.parquet(dims).groupBy().sum('weight').first()[0]} "
            f"— both tables restored, logs unchanged"
        )

    # 15. r11: ANN index lifecycle — a trained IVF index as a table
    #     sidecar: build (codebook + cell-partitioned posting lists),
    #     partition-pruned probe, then INCREMENTAL maintenance through
    #     a delete wave and an append batch (no retraining, no corpus
    #     re-scan — the deletes fold in by row identity)
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where as _dv_del,
    )
    from sql_query_optimizer_cpp_spark.operators.similarity import (
        build_ivf_index,
        ivf_search_indexed,
        maintain_ivf_index,
    )

    with tempfile.TemporaryDirectory() as d6:
        vec = f"{d6}/vectors"
        load_tables(spark, sf_dir, ("embeddings",))["embeddings"].write.parquet(vec)
        cells = build_ivf_index(spark, vec, id_col="vec_id")
        hits = ivf_search_indexed(spark, vec, n_queries=3, k=2, n_probes=2)
        victim = int(hits.first()["neighbor_id"])
        print(
            f"\nivf index: {cells} trained cells; probe touches only its "
            f"probed cells' partitions; top hit for q0: vec {victim}"
        )
        _dv_del(spark, vec, f"vec_id = {victim}")
        try:
            ivf_search_indexed(spark, vec, n_queries=3, k=2)
        except ValueError:
            print("after dv_delete: staleness gate refuses the desynced index")
        st = maintain_ivf_index(spark, vec, id_col="vec_id")
        print(
            f"maintain: removed {st['removed']} vector by row identity "
            f"({st['cells_rewritten']} cell partition rewritten, no retrain)"
        )
        spark.read.parquet(vec).where("vec_id < 3").selectExpr(
            "vec_id + 500000 AS vec_id", "embedding", "label"
        ).write.mode("append").parquet(vec)
        st = maintain_ivf_index(spark, vec, id_col="vec_id")
        hits2 = ivf_search_indexed(spark, vec, n_queries=3, k=2, n_probes=2)
        assert victim not in {r["neighbor_id"] for r in hits2.collect()}
        print(
            f"append + maintain: {st['appended']} new vectors indexed; "
            "probe serves the fresh index, deleted vector never returned"
        )

    spark.stop()


if __name__ == "__main__":
    main()
