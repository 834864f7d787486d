"""Streaming APPLY CHANGES: maintain a parquet table from a CDC changelog
stream via per-micro-batch ``MERGE INTO`` (``operators/mutate.merge_into``).

This is the lakehouse ingestion pattern the batch DML verbs exist for:
upstream emits (key, op, payload, ts) change rows; each micro-batch is
reduced to ONE winning change per key (latest ts — a batch may carry
several changes for the same key) and merged copy-on-write into the
target:

- op = 'D'  → WHEN MATCHED DELETE (tombstone); an unmatched tombstone is
  a no-op (``insert_condition`` filters it from the insert branch);
- otherwise → WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT.

Cross-batch ordering: updates are guarded by ``src_ts >= ts`` (evaluated
over the joined row — merge_into keeps both sides in scope; a NULL target
ts counts as oldest so seed rows without a version are still updatable),
so a late micro-batch replaying an older change can never OVERWRITE a
newer row: last-writer-wins by event time, not by arrival order.
At-least-once ``foreachBatch`` redelivery is likewise idempotent for
updates/deletes by the same guard; an insert redelivery is matched (not
re-inserted) on the second pass.

Honest limitation: deletes leave no tombstone STATE behind, so an
out-of-order stale update arriving AFTER the delete that superseded it
finds no row to compare timestamps against and re-inserts it.  Guarding
that needs retained tombstones (Delta's APPLY CHANGES keeps them
internally); this executor instead assumes what real changelog transports
(Kafka/Debezium, partitioned by key) provide — per-key in-order delivery
ACROSS batches — and the ts guard handles the within-batch and
replayed-batch cases.

Scale posture: the merge prunes target files by key semijoin, so a
micro-batch touching k keys rewrites O(files containing those keys), not
the table; inserts append.  The companion ``operators/mutate.compact``
bounds the small-file accretion this creates (run it periodically on the
target).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..operators.mor import dv_merge_into
from ..operators.mutate import merge_into


def latest_change_per_key(
    changes: DataFrame, on: list[str], ts_col: str, op_col: str
) -> DataFrame:
    """One winning change row per key: max ``ts_col``, ops breaking ties
    deterministically (a delete at the same ts wins over an update —
    tombstones are final)."""
    w = Window.partitionBy(*on).orderBy(
        F.col(ts_col).desc(),
        F.when(F.col(op_col) == "D", 1).otherwise(0).desc(),
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes_batch(
    spark: SparkSession,
    batch: DataFrame,
    table_path: str,
    on: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float = 30.0,
    mor: bool = False,
    isolation: str = "serializable",
) -> None:
    """Merge one (micro-)batch of CDC rows into ``table_path``.

    Payload columns are every batch column except ``op_col``; the target
    must share the key + payload schema (``ts_col`` included — it is the
    version column the last-writer-wins guard compares).

    ``optimistic=True`` runs ``merge_into`` in the multi-writer
    commit-or-retry mode, so SEVERAL CDC appliers (one
    per upstream shard/topic) can maintain one table concurrently: the
    expensive merge staging overlaps across writers and only the
    metadata validate-and-swap serializes; a loser re-derives its
    matched/unmatched split against the winner's committed state, and
    the ts guard keeps the outcome last-writer-wins BY EVENT TIME no
    matter which applier commits first.  ``max_attempts`` /
    ``lock_wait_seconds`` pass through to the commit loop — merge
    validation is serializable (ANY concurrent commit loses a round), so
    size max_attempts to at least the applier count or a busy loser can
    exhaust its retries and kill its streaming query.
    """
    winners = latest_change_per_key(batch, on, ts_col, op_col)
    payload = [c for c in winners.columns if c != op_col]
    src = winners.select(*payload, F.col(op_col))
    # NULL target ts = unversioned seed row: treat as oldest, else the
    # three-valued comparison freezes it forever (never updatable or
    # deletable while its file still gets rewritten)
    newer = f"(src_{ts_col} >= {ts_col} OR {ts_col} IS NULL)"
    matched_set = {
        c: f"CASE WHEN {newer} THEN src_{c} ELSE {c} END"
        for c in payload
        if c not in on
    }
    if mor and (optimistic or isolation != "serializable"):
        raise ValueError(
            "mor and optimistic (or a non-default isolation) are mutually "
            "exclusive: the merge-on-read merge validates "
            "write-serializable only, so two optimistic appliers could "
            "both insert one key"
        )
    if mor:
        # merge-on-read applier: a k-key micro-batch writes O(k) rows
        # (tombstones + copies + inserts) instead of rewriting every file
        # a matched key lives in — the steady-state CDC cost model;
        # materialize_deletes is the periodic compaction.  skip_unchanged
        # makes at-least-once replays true no-ops: a late/duplicate event
        # whose ts guard resolves to `ELSE col` assigns every column its
        # current value, and rewriting (tombstone + copy + version) those
        # rows on every redelivery is pure write amplification
        verb, kw = dv_merge_into, {"skip_unchanged": True}
    else:
        # appliers sharded on disjoint key ranges (the Kafka/Debezium
        # layout) commit first-attempt under write_serializable; keep
        # the serializable default when key ranges can overlap
        verb, kw = merge_into, {"isolation": isolation}
    verb(
        spark,
        table_path,
        src,
        on=on,
        matched_set=matched_set,
        matched_delete=f"src_{op_col} = 'D' AND {newer}",
        insert_condition=f"src_{op_col} <> 'D'",
        # one winner per key by construction; skip the extra source agg
        check_unique=False,
        optimistic=optimistic,
        max_attempts=max_attempts,
        # two parallel locked appliers (one per upstream shard) serialize
        # on the writer lock instead of killing the second streaming
        # query with a refuse
        lock_wait_seconds=lock_wait_seconds,
        **kw,
    )


def apply_changes_stream(
    changes: DataFrame,
    table_path: str,
    checkpoint_path: str,
    on: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float = 30.0,
    mor: bool = False,
    isolation: str = "serializable",
) -> StreamingQuery:
    """Start the foreachBatch sink maintaining ``table_path`` from a
    streaming changelog.  The target parquet dir must exist (seed it with
    an empty or initial snapshot write)."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        apply_changes_batch(
            batch.sparkSession, batch, table_path, on, ts_col, op_col,
            optimistic=optimistic, max_attempts=max_attempts,
            lock_wait_seconds=lock_wait_seconds, mor=mor,
            isolation=isolation,
        )

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .start()
    )
