"""Optimistic-concurrency DML: stage without the lock, commit under it.

The copy-on-write verbs in the optimistic mode of the one DML commit
loop (:mod:`.commit`); every public name is still importable from
``operators.mutate``.

No reference analog: the reference PARSES UPDATE/DELETE and stops
(``engine/src/parser.cpp:232-296``) and has no concurrency surface at
all — its executor delegates to a single MySQL connection
(``engine/src/plan_executor.cpp:53-63``).  This module is the
lakehouse-standard optimistic commit loop (the Delta/Iceberg shape)
over the COW writers in :mod:`.mutate`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from .mutate import MutationStats, _delete, _merge, _update

# -- optimistic concurrency: stage without the lock, commit under it ----------
#
# The locked verbs DETECT a second writer and refuse.  These verbs replace
# refuse with commit-or-retry, the lakehouse-standard optimistic protocol
# (the Delta/Iceberg commit-loop shape) — the optimistic mode of the one
# DML commit loop, :func:`.commit.run`, over the same writers the locked
# verbs use:
#
#   1. READ   the table state and prune affected files    (no lock)
#   2. STAGE  the COW rewrite — the expensive Spark jobs  (no lock)
#   3. COMMIT under a short bounded-wait lock: re-validate that every file
#      this attempt read-and-will-replace still exists; if yes, swap and
#      commit the next version manifest; if a concurrent commit replaced
#      any, discard the staging and RETRY from step 1 against the new
#      committed state.
#
# Two writers on DISJOINT files therefore both commit (their hit sets
# differ, so the second writer's validation passes even though the table
# changed around it), and the expensive work overlaps — only the metadata
# swap serializes.  Writers on OVERLAPPING files serialize by retry: the
# loser discards its staging and re-evaluates its predicate over the
# winner's committed rows — the serial-equivalent outcome, never a lost
# update.  ``max_attempts`` exhausted raises
# :class:`ConcurrentWriteConflict`; the table is then unchanged by this
# caller.
#
# Validation is by exact file-name set: COW part names are uuid-unique, so
# name identity == content identity.  Scope: flat AND hive-partitioned
# tables — the validation unit is the file, so writers on disjoint
# partitions never conflict, and the in-lock re-list covers only the
# partition directories the attempt touched.  The merge-on-read verbs
# (``mor.occ_dv_*``) run the same loop with a tombstone-batch writer.


class ConcurrentWriteConflict(RuntimeError):
    """All optimistic attempts lost their validation race; the table is
    unchanged by this caller."""


def _uri_path(uri: str) -> str:
    """Decoded path component of a file URI — the normalization both
    sides of the OCC validation pass through.  A scan's file names
    percent-encode (``file:/a/my%20dir/f``) while Hadoop's
    ``Path.toString`` does not (``file:/a/my dir/f``); comparing raw
    strings would see every file as 'gone'."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


def _is_missing_file_error(e: Exception) -> bool:
    """Did a Spark read/collect fail because an input file vanished?
    Under the optimistic protocol a concurrent commit deleting files
    during the lock-free read/stage phase is a CONFLICT (retry), not an
    error.  Matched on the Java cause chain's class names as rendered
    into the message — FileNotFoundException (task-time),
    PATH_NOT_FOUND / 'Path does not exist' (planning-time)."""
    s = str(e)
    return (
        "FileNotFoundException" in s
        or "PATH_NOT_FOUND" in s
        or "Path does not exist" in s
    )


def occ_update_where(
    spark: SparkSession,
    path: str,
    set_map: dict[str, str | Column],
    condition: str | Column,
    retain: bool | None = None,
    max_attempts: int = 5,
    lock_wait_seconds: float = 30.0,
    _after_stage=None,
) -> MutationStats:
    """Optimistic ``UPDATE``: same semantics as :func:`update_where`, but
    concurrent writers on disjoint keys BOTH commit (stage-outside-lock +
    validate-and-swap; see the protocol comment above).  On a
    hive-partitioned table the conflict scope is the touched partitions —
    writers on disjoint partitions never conflict."""
    return _update(
        spark, path, set_map, condition, retain, optimistic=True,
        max_attempts=max_attempts, lock_wait_seconds=lock_wait_seconds,
        _after_stage=_after_stage,
    )


def occ_delete_where(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    retain: bool | None = None,
    max_attempts: int = 5,
    lock_wait_seconds: float = 30.0,
    _after_stage=None,
) -> MutationStats:
    """Optimistic ``DELETE``: same three-valued-WHERE semantics as
    :func:`delete_where`, with the commit-or-retry protocol of
    :func:`occ_update_where`."""
    return _delete(
        spark, path, condition, retain, optimistic=True,
        max_attempts=max_attempts, lock_wait_seconds=lock_wait_seconds,
        _after_stage=_after_stage,
    )


def occ_merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    matched_set: dict[str, str | Column] | None = None,
    insert_values: dict[str, str | Column] | None = None,
    check_unique: bool = True,
    matched_delete: str | Column | None = None,
    insert_condition: str | Column | None = None,
    retain: bool | None = None,
    max_attempts: int = 5,
    lock_wait_seconds: float = 30.0,
    max_pruned_files: int | None = 100_000,
    evolve_schema: bool = False,
    isolation: str = "serializable",
    _after_stage=None,
) -> MutationStats:
    """Optimistic ``MERGE INTO``: same semantics as :func:`merge_into`,
    staged outside the writer lock with validate-and-swap inside it — the
    workload the CDC upsert writer (streaming/upsert.py) generates when
    several micro-batch writers land on one table.

    ``isolation='serializable'`` (default) is stricter than the point
    verbs': a MERGE's read set is the WHOLE table (the NOT-MATCHED
    anti-join reads every file's keys to decide what to insert), so the
    commit requires the table's file list to be byte-identical to what the
    read saw.  ANY concurrent commit — even on disjoint keys — loses the
    race and re-derives its matched/unmatched split against the new
    committed state; disjoint-key concurrent upserts both commit, the
    loser after one retry.  (The point verbs can validate just their hit
    files because their rewrite never depends on rows they didn't read; a
    merge's insert decision does.)

    ``isolation='write_serializable'`` (Delta's default level) validates
    only the merge's WRITE-dependent read set: conflict = a concurrent
    commit removed a file this merge is rewriting.  Disjoint-key
    concurrent merges then commit WITHOUT retrying the expensive
    restage — the steady-state cost win for sharded CDC appliers.  The
    documented anomaly is the same one Delta accepts: this merge's
    insert/matched decisions were made against the pre-commit snapshot,
    so a concurrent commit that inserted one of this merge's unmatched
    source keys yields a duplicate insert, and rows a concurrent commit
    rewrote keep this merge's view for the matched leg.  Writers on
    DISJOINT keys are anomaly-free; use the default level when key
    ranges can overlap.

    Per-attempt cost is the same stage-everything-then-swap as
    :func:`merge_into`; only the metadata validate-and-swap serializes.
    """
    return _merge(
        spark, path, source, on, matched_set, insert_values, check_unique,
        matched_delete, insert_condition, retain, max_pruned_files,
        evolve_schema, isolation, optimistic=True,
        max_attempts=max_attempts, lock_wait_seconds=lock_wait_seconds,
        _after_stage=_after_stage,
    )
