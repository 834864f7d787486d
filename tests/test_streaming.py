"""Structured Streaming tests: the streamed window results must equal the
batch (oracle-checked) results, and the stateful operator must carry state
across micro-batches."""

from __future__ import annotations

import pytest

from sql_query_optimizer_cpp_spark.catalog import load_tables
from sql_query_optimizer_cpp_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    name, q = run_to_memory(tumbling_counts(stream), output_mode="complete")
    try:
        streamed = _rows(spark.sql(f"SELECT * FROM {name}"))
    finally:
        q.stop()

    batch = load_tables(spark, SF_DIR, ("events",))["events"]
    expected = _rows(_batch_tumbling(spark, batch))
    assert streamed == expected
    assert len(streamed) > 0


def _batch_tumbling(spark, events):
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.functions import dsum

    # decimal-trick sum on BOTH sides: double addition order differs between
    # micro-batched state updates and batch partitions, so exact equality is
    # only sound on an order-independent aggregate
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", scale=6).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


def test_stream_session_windows(spark):
    stream = read_events_stream(spark, SF_DIR)
    name, q = run_to_memory(session_counts(stream), output_mode="complete")
    try:
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    # session invariant: end = last event + gap => end > start always
    assert all(r.session_end > r.session_start for r in rows)


def test_stateful_running_counts(spark):
    from sql_query_optimizer_cpp_spark.streaming.stateful import (
        running_user_counts,
    )

    stream = read_events_stream(spark, SF_DIR)
    name, q = run_to_memory(running_user_counts(stream), output_mode="update")
    try:
        rows = spark.sql(
            f"SELECT user_id, max(n_events) AS n FROM {name} GROUP BY user_id"
        ).collect()
    finally:
        q.stop()

    batch = load_tables(spark, SF_DIR, ("events",))["events"]
    expected = {
        r.user_id: r.n
        for r in batch.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    got = {r.user_id: r.n for r in rows}
    assert got == expected


def test_stream_exact_dedup_equals_batch(spark):
    """Streamed dedup-on-ingest must surface exactly the batch-distinct
    content hashes (which doc represents a duplicate set is arrival-order
    dependent, so the comparison keys on content_hash only)."""
    from sql_query_optimizer_cpp_spark.operators.text import content_fingerprint
    from sql_query_optimizer_cpp_spark.streaming.dedup import (
        read_documents_stream,
        streaming_exact_dedup,
    )

    stream = read_documents_stream(spark, SF_DIR)
    name, q = run_to_memory(
        streaming_exact_dedup(stream), output_mode="append"
    )
    try:
        streamed = spark.sql(f"SELECT content_hash FROM {name}").collect()
    finally:
        q.stop()
    batch = (
        load_tables(spark, SF_DIR, ("documents",))["documents"]
        .select(content_fingerprint("text").alias("content_hash"))
        .distinct()
        .collect()
    )
    assert len(streamed) == len(batch)  # exactly one row per distinct content
    assert {r.content_hash for r in streamed} == {r.content_hash for r in batch}


def test_incremental_rollup_equals_batch(tmp_path, spark):
    """Drive the events fixture through 4 genuine micro-batches; the
    compacted partials log must equal the batch hour partials exactly
    (decimal sums make this deterministic), and rolling the same log up
    to day grain must equal the batch day rollup."""
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.operators.rollup import (
        grain_partials,
        reaggregate,
    )
    from sql_query_optimizer_cpp_spark.streaming.rollup import (
        compact,
        incremental_rollup_to_log,
    )

    events = load_tables(spark, SF_DIR, ("events",))["events"]
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_rollup_to_log(
        stream, str(tmp_path / "log"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 3  # really incremental
    finally:
        q.stop()

    def finalized(df):
        return sorted(
            (r.bucket, r.event_type, r.n_events, float(r._sum), r.min_value, r.max_value)
            for r in df.collect()
        )

    streamed_hour = compact(spark, str(tmp_path / "log"))
    batch_hour = grain_partials(events, "ts", "event_type", "value", "hour")
    assert finalized(streamed_hour) == finalized(batch_hour)

    streamed_day = compact(spark, str(tmp_path / "log"), grain="day")
    batch_day = reaggregate(batch_hour, "event_type", "day")
    assert finalized(streamed_day) == finalized(batch_day)


def test_stream_latest_snapshot_equals_batch(tmp_path, spark):
    """Drive events through 4 genuine micro-batches; the per-user best row
    emitted last must equal the batch window-rank answer — i.e. the
    O(keys) streaming state reproduces the full-history rank."""
    from sql_query_optimizer_cpp_spark.inventory import all_queries
    from sql_query_optimizer_cpp_spark.streaming.latest import latest_snapshot

    events = load_tables(spark, SF_DIR, ("events",))["events"]
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name, q = run_to_memory(latest_snapshot(stream), output_mode="update")
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 3  # really incremental
        # update mode re-emits a key's best-so-far each batch that touches
        # it; the emission sequence per key is monotone in (ts, event_id),
        # so the max emitted row per key is the final snapshot
        snapshot = {
            r.user_id: (r.event_id, r.ts, r.event_type, r.value)
            for r in spark.sql(
                f"""SELECT * FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                      ) AS rn FROM {name}) WHERE rn = 1"""
            ).collect()
        }
    finally:
        q.stop()

    batch = {
        r.user_id: (r.event_id, r.ts, r.event_type, r.value)
        for r in all_queries()["events_latest_by_user"].fn(spark, SF_DIR).collect()
    }
    assert snapshot == batch


def test_stream_stream_interval_join_equals_batch(spark):
    from sql_query_optimizer_cpp_spark.streaming.joins import click_purchase_pairs

    stream = read_events_stream(spark, SF_DIR)
    # append mode: stream-stream inner joins emit rows only once both
    # sides' watermarks allow, so processAllAvailable drains the fixture
    name, q = run_to_memory(click_purchase_pairs(stream), output_mode="append")
    try:
        streamed = _rows(spark.sql(f"SELECT * FROM {name}"))
    finally:
        q.stop()

    batch = load_tables(spark, SF_DIR, ("events",))["events"]
    expected = _rows(click_purchase_pairs(batch))
    assert streamed == expected
    assert len(streamed) > 0


def test_read_events_stream_pins_utc(spark):
    """ADVICE r03: the NTZ->LTZ cast in read_events_stream is only a
    relabel under UTC; the reader must pin the zone itself rather than
    assume catalog.load_tables already ran in this session."""
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        read_events_stream(spark, SF_DIR)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.session.timeZone", prev)


def test_stateful_tws_running_counts(spark):
    """The transformWithStateInPandas twin must converge to the same
    per-user totals as the applyInPandasWithState operator and the batch
    aggregate.

    Skips where google.protobuf is unavailable (this container): the TWS
    state-server protocol needs it and nothing may be installed here —
    the operator documents the same limitation.  Runs fully on any
    protobuf-equipped deployment.
    """
    import importlib.util
    import warnings

    from sql_query_optimizer_cpp_spark.streaming.stateful import (
        running_user_counts_tws,
    )

    # probe the actual dependency (google.protobuf), not the bare google
    # namespace — a google-auth install would otherwise hide the skip
    # while the stream still dies at the first micro-batch
    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            running_user_counts_tws(read_events_stream(spark, SF_DIR))
        assert any("google.protobuf" in str(x.message) for x in w)
        pytest.skip("google.protobuf absent: TWS state server cannot start")

    stream = read_events_stream(spark, SF_DIR)
    name, q = run_to_memory(running_user_counts_tws(stream), output_mode="update")
    try:
        rows = spark.sql(
            f"SELECT user_id, max(n_events) AS n FROM {name} GROUP BY user_id"
        ).collect()
    finally:
        q.stop()

    batch = load_tables(spark, SF_DIR, ("events",))["events"]
    expected = {
        r.user_id: r.n
        for r in batch.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    got = {r.user_id: r.n for r in rows}
    assert got == expected


def test_stream_apply_changes_upserts_table(tmp_path, spark):
    """CDC APPLY CHANGES end-to-end: three genuine micro-batches of
    (key, op, payload, ts) change rows maintained into a parquet table via
    per-batch MERGE — covering in-batch winner selection, stale-update
    rejection (last-writer-wins by event time, not arrival), tombstones,
    delete-then-reinsert, and insert-then-delete across batches."""
    import os
    import time

    from sql_query_optimizer_cpp_spark.streaming.upsert import apply_changes_stream

    target = str(tmp_path / "target")
    spark.createDataFrame(
        [(k, float(k), 0) for k in range(10)], "k long, v double, ts long"
    ).repartitionByRange(2, "k").write.parquet(target)

    src = str(tmp_path / "changes")
    os.makedirs(src)
    batches = [
        # (k, op, v, ts)
        [(1, "U", 100.0, 10), (20, "U", 200.0, 10), (2, "D", None, 10),
         (3, "U", 31.0, 5), (3, "U", 32.0, 6)],          # in-batch dup: ts=6 wins
        [(1, "U", 999.0, 5),                               # stale -> must not win
         (20, "D", None, 20),                              # delete the b1 insert
         (4, "D", None, 7)],                               # tombstone a seed row
        [(2, "U", 22.0, 30),                               # re-insert after delete
         (5, "U", 55.0, 15)],
    ]
    t0 = time.time() - 100
    for i, rows in enumerate(batches):
        f = f"{src}/b{i}"
        spark.createDataFrame(
            rows, "k long, op string, v double, ts long"
        ).coalesce(1).write.parquet(f)
        # file source orders micro-batches by modification time; pin it
        for root, _dirs, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t0 + i * 10, t0 + i * 10))

    stream = (
        spark.readStream.schema("k long, op string, v double, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = apply_changes_stream(
        stream, target, str(tmp_path / "ckpt"), on=["k"], ts_col="ts", op_col="op"
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 2  # really incremental
    finally:
        q.stop()

    got = {r.k: (r.v, r.ts) for r in spark.read.parquet(target).collect()}
    want = {k: (float(k), 0) for k in range(10)}
    want[1] = (100.0, 10)   # b1 update; b2's older change rejected
    want[2] = (22.0, 30)    # deleted in b1, re-inserted in b3
    want[3] = (32.0, 6)     # in-batch winner
    del want[4]             # tombstoned seed row
    want[5] = (55.0, 15)
    # k=20: inserted in b1, deleted in b2 -> absent
    assert got == want


def test_apply_changes_null_ts_seed_rows_updatable(tmp_path, spark):
    """A seed row with NULL version ts must count as oldest — updatable
    and deletable — not frozen by three-valued `src_ts >= NULL`."""
    from sql_query_optimizer_cpp_spark.streaming.upsert import apply_changes_batch

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10.0, None), (2, 20.0, None), (3, 30.0, 5)],
        "k long, v double, ts long",
    ).coalesce(1).write.parquet(target)
    batch = spark.createDataFrame(
        [(1, "U", 11.0, 7), (2, "D", None, 7)],
        "k long, op string, v double, ts long",
    )
    apply_changes_batch(spark, batch, target, on=["k"])
    got = {r.k: (r.v, r.ts) for r in spark.read.parquet(target).collect()}
    assert got == {1: (11.0, 7), 3: (30.0, 5)}


def test_apply_changes_optimistic_concurrent_appliers(tmp_path, spark):
    """Two CDC appliers (one per upstream shard) maintain ONE table
    CONCURRENTLY via apply_changes_batch(optimistic=True): disjoint-key
    batches racing through optimistic merge_into must both commit — the loser
    retries against the winner's committed state — and the final table
    equals applying both batches in any order."""
    from concurrent.futures import ThreadPoolExecutor

    from sql_query_optimizer_cpp_spark.streaming.upsert import (
        apply_changes_batch,
    )

    target = str(tmp_path / "occ_target")
    spark.createDataFrame(
        [(k, float(k), 0) for k in range(20)], "k long, v double, ts long"
    ).repartitionByRange(2, "k").write.parquet(target)

    shard_a = spark.createDataFrame(
        [(1, "U", 100.0, 10), (30, "U", 300.0, 10), (2, "D", None, 10)],
        "k long, op string, v double, ts long",
    )
    shard_b = spark.createDataFrame(
        [(11, "U", 110.0, 10), (40, "U", 400.0, 10), (12, "D", None, 10)],
        "k long, op string, v double, ts long",
    )

    def apply(batch):
        apply_changes_batch(
            spark, batch, target, on=["k"], optimistic=True
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        for f in [ex.submit(apply, shard_a), ex.submit(apply, shard_b)]:
            f.result()

    got = {
        r["k"]: r["v"] for r in spark.read.parquet(target).collect()
    }
    want = {k: float(k) for k in range(20)}
    del want[2], want[12]
    want.update({1: 100.0, 30: 300.0, 11: 110.0, 40: 400.0})
    assert got == want


def test_stream_ann_ingest_maintains_ivf_index(tmp_path, spark):
    """(r11) Streaming vector ingest keeps the persisted IVF index
    exactly-once fresh: epochs landing BEFORE the build stay unindexed
    (gate-protected), epochs after it refresh the postings by O(batch),
    the final probe equals the unindexed trained path on the same
    persisted codebook, and an at-least-once REPLAY (last checkpoint
    commit marker deleted, stream restarted) duplicates neither table
    rows nor postings."""
    import os

    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import read_mor
    from sql_query_optimizer_cpp_spark.streaming.ann import (
        ingest_vectors_maintaining_ivf,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"].select(
        "vec_id", "embedding"
    )
    n = emb.count()
    src = str(tmp_path / "src")
    tdir = str(tmp_path / "vectors")
    ckpt = str(tmp_path / "ckpt")
    emb.where(F.col("vec_id") < n // 2).repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = ingest_vectors_maintaining_ivf(stream, tdir, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()  # pre-build epochs: vectors land, no index to maintain yet
    assert read_mor(spark, tdir).count() == n // 2
    S.build_ivf_index(spark, tdir, id_col="vec_id")

    emb.where(F.col("vec_id") >= n // 2).repartition(2).write.mode(
        "append"
    ).parquet(src)
    drain()  # post-build epochs: each refreshes the postings in-batch
    table = read_mor(spark, tdir)
    assert table.count() == n
    assert S.read_ivf_postings(spark, tdir).count() == n

    def probe_rows():
        # gate must PASS: the stream kept the index fresh
        return sorted(
            tuple(r)
            for r in S.ivf_search_indexed(
                spark, tdir, n_queries=5, k=3, n_probes=2
            ).collect()
        )

    got = probe_rows()
    want = sorted(
        tuple(r)
        for r in S.ivf_topk_trained(
            table.select("vec_id", "embedding"),
            n_queries=5,
            k=3,
            codebook=S.read_ivf_index(spark, tdir),
            n_probes=2,
        ).collect()
    )
    assert got and got == want

    # at-least-once replay: drop the LAST commit marker so the restarted
    # stream re-runs that epoch with the same id + file set — the
    # _SUCCESS skip must land zero new rows and zero new postings
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    # the local ChecksumFs keeps a hidden .N.crc sidecar; leaving it
    # stale makes the replayed commit's rename collide
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert read_mor(spark, tdir).count() == n
    assert S.read_ivf_postings(spark, tdir).count() == n
    assert probe_rows() == want

    # DV interference between epochs: another writer tombstones an
    # indexed vector; the NEXT epoch's maintain folds the batch in
    # (identity-precise removal) instead of wedging the index — the
    # self-healing claim
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    victim = int(
        S.read_ivf_postings(spark, tdir)
        .where("vec_id >= 5")
        .first()["vec_id"]
    )
    assert dv_delete_where(spark, tdir, f"vec_id = {victim}").rows_matched == 1
    emb.where(F.col("vec_id") < 3).selectExpr(
        "vec_id + 7000000 AS vec_id", "embedding"
    ).repartition(1).write.mode("append").parquet(src)
    drain()
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == n + 2  # -1 tombstoned, +3 appended
    assert postings.where(f"vec_id = {victim}").count() == 0
    assert postings.where("vec_id >= 7000000").count() == 3
    # gate passes: the stream maintained through the delete
    assert S.ivf_search_indexed(
        spark, tdir, n_queries=3, k=2, n_probes=2
    ).count() > 0


def test_stream_ann_ingest_refuses_flat_table(tmp_path, spark):
    """(r11) The vector sink owns its epoch-partitioned layout: pointed
    at a table holding flat parquet files it must refuse (a mixed
    flat/partitioned dir is unreadable) instead of writing into it."""
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sql_query_optimizer_cpp_spark.streaming.ann import (
        ingest_vectors_maintaining_ivf,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"].select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "src")
    tdir = str(tmp_path / "flat_table")
    emb.where(F.col("vec_id") < 10).repartition(1).write.parquet(src)
    emb.where(F.col("vec_id") < 5).repartition(1).write.parquet(tdir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest_vectors_maintaining_ivf(
        stream, tdir, str(tmp_path / "ckpt")
    )
    try:
        with pytest.raises(StreamingQueryException, match="flat data file"):
            q.processAllAvailable()
    finally:
        q.stop()
    # nothing was written into the flat table
    import os

    assert not [
        d for d in os.listdir(tdir) if d.startswith("ingest_epoch=")
    ]


def test_stream_ann_ingest_replay_skips_via_own_marker(tmp_path, spark):
    """(r12) Exactly-once replay detection must not depend on the
    committer's ``_SUCCESS`` marker: object-store deployments commonly
    disable ``mapreduce.fileoutputcommitter.marksuccessfuljobs``.  The
    sink writes its own ``_EPOCH_COMMITTED`` sentinel; with every
    ``_SUCCESS`` removed, a replayed committed epoch must still take the
    skip path (no duplicated rows, no rewritten part files that would
    retire postings-anchored bytes)."""
    import os

    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import read_mor
    from sql_query_optimizer_cpp_spark.streaming.ann import (
        ingest_vectors_maintaining_ivf,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"].select(
        "vec_id", "embedding"
    )
    n = emb.count()
    src = str(tmp_path / "src")
    tdir = str(tmp_path / "vectors")
    ckpt = str(tmp_path / "ckpt")
    emb.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = ingest_vectors_maintaining_ivf(stream, tdir, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    epoch_dirs = [
        d for d in os.listdir(tdir) if d.startswith("ingest_epoch=")
    ]
    assert epoch_dirs
    # every committed epoch carries the sink's own sentinel
    for d in epoch_dirs:
        assert os.path.exists(os.path.join(tdir, d, "_EPOCH_COMMITTED"))
        # simulate marksuccessfuljobs=false retroactively
        for m in ("_SUCCESS", "._SUCCESS.crc"):
            p = os.path.join(tdir, d, m)
            if os.path.exists(p):
                os.remove(p)

    files_before = sorted(
        os.path.join(d, f)
        for d in epoch_dirs
        for f in os.listdir(os.path.join(tdir, d))
        if f.endswith(".parquet")
    )
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain()  # replay of a committed epoch, _SUCCESS absent
    assert read_mor(spark, tdir).count() == n
    files_after = sorted(
        os.path.join(d, f)
        for d in epoch_dirs
        for f in os.listdir(os.path.join(tdir, d))
        if f.endswith(".parquet")
    )
    # skip path: the replayed epoch rewrote NOTHING (same part files),
    # so the postings anchor still matches and the gate stays open
    assert files_after == files_before
    assert (
        S.ivf_search_indexed(spark, tdir, n_queries=3, k=2).count() > 0
    )

    # pre-sentinel epoch (or crash between data write and sentinel):
    # only _SUCCESS vouches for it.  A replay must still skip AND
    # backfill the sink's own sentinel so the epoch stops depending on
    # the committer marker lifecycle rules may strip later.  The replay
    # re-runs only the LAST (checkpoint-uncommitted) epoch, so that is
    # the one whose sentinel gets stripped here.
    d0 = max(epoch_dirs, key=lambda d: int(d.split("=", 1)[1]))
    open(os.path.join(tdir, d0, "_SUCCESS"), "w").close()
    os.remove(os.path.join(tdir, d0, "_EPOCH_COMMITTED"))
    crc0 = os.path.join(tdir, d0, "._EPOCH_COMMITTED.crc")
    if os.path.exists(crc0):
        os.remove(crc0)
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert os.path.exists(os.path.join(tdir, d0, "_EPOCH_COMMITTED"))
    files_final = sorted(
        os.path.join(d, f)
        for d in epoch_dirs
        for f in os.listdir(os.path.join(tdir, d))
        if f.endswith(".parquet")
    )
    assert files_final == files_before
    assert read_mor(spark, tdir).count() == n


def test_stream_ann_ingest_survives_held_index_lock(
    tmp_path, spark, monkeypatch
):
    """(r12, ADVICE fix) A concurrent refresh/maintain/build holding the
    index lock past the wait raises _WriterLockHeld (a RuntimeError, not
    a ValueError) out of maintain_ivf_index; the INGEST must warn and
    keep landing vectors — searches stay gate-protected — instead of
    killing the streaming query."""
    from pyspark.sql import functions as F

    import sql_query_optimizer_cpp_spark.streaming.ann as ann_mod
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import read_mor
    from sql_query_optimizer_cpp_spark.operators.storage import (
        _WriterLockHeld,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"].select(
        "vec_id", "embedding"
    )
    n = emb.count()
    src = str(tmp_path / "src")
    tdir = str(tmp_path / "vectors")
    ckpt = str(tmp_path / "ckpt")
    emb.where(F.col("vec_id") < n // 2).repartition(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = ann_mod.ingest_vectors_maintaining_ivf(stream, tdir, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    S.build_ivf_index(spark, tdir, id_col="vec_id")

    def held(*a, **k):
        raise _WriterLockHeld("index lock busy (injected)")

    monkeypatch.setattr(ann_mod, "maintain_ivf_index", held)
    emb.where(F.col("vec_id") >= n // 2).repartition(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.warns(UserWarning, match="IVF maintenance skipped"):
        drain()  # must NOT raise: ingest survives the lock contention
    # every vector landed even though maintenance was skipped ...
    assert read_mor(spark, tdir).count() == n
    # ... and the gate now refuses (index is honestly stale), until a
    # real maintain catches up
    monkeypatch.undo()
    with pytest.raises(ValueError, match="STALE"):
        S.ivf_search_indexed(spark, tdir, n_queries=3, k=2)
    S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    assert (
        S.ivf_search_indexed(spark, tdir, n_queries=3, k=2).count() > 0
    )
