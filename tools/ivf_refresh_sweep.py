"""Randomized sweep: incremental index maintenance vs the unindexed
search on the same persisted quantizers — for BOTH sidecars.

For each seed: start from a random slice of the embeddings fixture,
build an index (even seeds: the IVF sidecar; odd seeds: the IVFPQ
codes sidecar — same wall-clock as the pre-r14 sweep, alternating
coverage), then apply a random schedule of APPEND batches, dv_delete
waves, and dv_update waves (tombstone + same-id copy) with a maintain
after each step; after every maintain assert

  ivf_search_indexed(table)    ==  ivf_topk_trained(read_mor(table),
                                                    codebook=persisted)
  ivfpq_search_indexed(table)  ==  ivf_pq_topk(read_mor(table),
                                               coarse/codebook=persisted)

row-for-row at a random (k, n_probes), and that the postings count
equals the live (read_mor) row count.  This is the property the
unit/streaming tests pin at fixed shapes, swept over interleavings the
example tests never hit (the txn/OCC-DV sweep discipline — randomized
schedules keep catching what example tests miss).

Run:  python tools/ivf_refresh_sweep.py [n_seeds]
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(n_seeds: int = 10) -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("ivf-refresh-sweep")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sql_query_optimizer_cpp_spark.catalog import load_tables
    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        dv_update_where,
        read_mor,
    )

    emb = (
        load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))[
            "embeddings"
        ]
        .select("vec_id", "embedding")
        .cache()
    )
    ids = [r[0] for r in emb.select("vec_id").collect()]
    n = len(ids)
    print(f"fixture: {n} vectors; sweeping {n_seeds} seeds")

    for seed in range(n_seeds):
        rng = random.Random(seed)
        # even seeds sweep the IVF sidecar, odd seeds the IVFPQ codes
        # sidecar: both run the SAME maintenance fold of the one
        # sidecar record (similarity._Sidecar) with their own encodings,
        # so alternating keeps the sweep wall flat while covering both
        kind = "ivf" if seed % 2 == 0 else "ivfpq"
        side = S._IVF if kind == "ivf" else PQ._IVFPQ
        order = ids[:]
        rng.shuffle(order)
        base_n = rng.randint(n // 4, n // 2)
        root = tempfile.mkdtemp(prefix=f"{kind}_sweep_{seed}_")
        tdir = f"{root}/vectors"
        try:
            base_ids = order[:base_n]
            maintain_fn = (
                S.maintain_ivf_index
                if kind == "ivf"
                else PQ.maintain_ivfpq_index
            )

            def maintain():
                # ~1/3 of maintains run with broadcasting disabled —
                # the size-gated hint-free path (the bulk-delete
                # posture, r13): the fold must be join-plan-agnostic
                if rng.random() < 0.34:
                    old = spark.conf.get(
                        "spark.sql.autoBroadcastJoinThreshold"
                    )
                    spark.conf.set(
                        "spark.sql.autoBroadcastJoinThreshold", "-1"
                    )
                    try:
                        return maintain_fn(spark, tdir, id_col="vec_id")
                    finally:
                        spark.conf.set(
                            "spark.sql.autoBroadcastJoinThreshold", old
                        )
                return maintain_fn(spark, tdir, id_col="vec_id")

            emb.where(F.col("vec_id").isin(base_ids)).repartition(
                rng.randint(1, 3)
            ).write.parquet(tdir)
            if kind == "ivf":
                S.build_ivf_index(spark, tdir, id_col="vec_id")
            else:
                PQ.build_ivfpq_index(spark, tdir, id_col="vec_id")
            cursor = base_n
            step = 0
            while cursor < n:
                op = rng.choice(["append", "append", "delete", "update"])
                if op == "append":
                    size = rng.choice(
                        [0, 1, rng.randint(2, max(3, n // 6))]
                    )
                    batch_ids = order[cursor : cursor + size]
                    cursor += size
                    if batch_ids:
                        emb.where(
                            F.col("vec_id").isin(batch_ids)
                        ).repartition(rng.randint(1, 2)).write.mode(
                            "append"
                        ).parquet(tdir)
                    st = maintain()
                    assert st["appended"] == len(batch_ids), (
                        f"seed {seed} step {step}: appended "
                        f"{st['appended']}, expected {len(batch_ids)}"
                    )
                elif op == "delete":
                    # tombstone a random slice of the LIVE rows
                    mod, rem = rng.randint(5, 23), rng.randint(0, 4)
                    n_del = dv_delete_where(
                        spark, tdir, f"vec_id % {mod} = {rem}"
                    ).rows_matched
                    st = maintain()
                    assert st["removed"] == n_del, (
                        f"seed {seed} step {step}: removed "
                        f"{st['removed']}, expected {n_del}"
                    )
                else:
                    # tombstone + same-id copy: identity-precise
                    # maintenance must swap exactly the updated rows
                    mod, rem = rng.randint(7, 29), rng.randint(0, 6)
                    n_upd = dv_update_where(
                        spark,
                        tdir,
                        {"embedding": "reverse(embedding)"},
                        f"vec_id % {mod} = {rem}",
                    ).rows_matched
                    st = maintain()
                    assert st["removed"] == n_upd == st["appended"], (
                        f"seed {seed} step {step}: update maintained "
                        f"{st}, expected {n_upd} both ways"
                    )
                table = read_mor(spark, tdir)
                n_tab = table.count()
                post = side.postings(spark, tdir, "embedding")
                n_post = post.count() if post is not None else 0
                assert n_post == n_tab, (
                    f"seed {seed} step {step}: postings {n_post} != "
                    f"live rows {n_tab}"
                )
                k = rng.randint(1, 5)
                probes = rng.randint(1, S.IVF_CELLS)
                if kind == "ivf":
                    got = sorted(
                        tuple(r)
                        for r in S.ivf_search_indexed(
                            spark, tdir, n_queries=8, k=k, n_probes=probes
                        ).collect()
                    )
                    want = sorted(
                        tuple(r)
                        for r in S.ivf_topk_trained(
                            table.select("vec_id", "embedding"),
                            n_queries=8,
                            k=k,
                            codebook=side.codebooks(
                                spark, tdir, "embedding"
                            )[0],
                            n_probes=probes,
                        ).collect()
                    )
                else:
                    coarse, book = side.codebooks(spark, tdir, "embedding")
                    got = sorted(
                        tuple(r)
                        for r in PQ.ivfpq_search_indexed(
                            spark, tdir, n_queries=8, k=k, n_probes=probes
                        ).collect()
                    )
                    want = sorted(
                        tuple(r)
                        for r in PQ.ivf_pq_topk(
                            table.select("vec_id", "embedding"),
                            n_queries=8,
                            k=k,
                            n_probes=probes,
                            coarse=coarse,
                            codebook=book,
                        ).collect()
                    )
                assert got == want, (
                    f"seed {seed} step {step} (k={k}, probes={probes}): "
                    f"indexed probe != in-memory twin\n  got {got[:5]}…"
                    f"\n  want {want[:5]}…"
                )
                step += 1
            print(
                f"seed {seed} ({kind}): OK — base {base_n}, {step} "
                f"maintain steps, final {n_tab} vectors, ALL MATCH"
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print(f"SWEEP PASS: {n_seeds}/{n_seeds} seeds")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 10)
