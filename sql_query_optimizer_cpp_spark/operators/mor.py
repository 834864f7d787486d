"""Merge-on-read DML: deletion vectors over the COW table layout.

The copy-on-write verbs (operators/mutate.py — the executed analog of the
reference's parse-only DML, engine/src/parser.cpp:232-296) rewrite every
file that contains a matched row.  At 100 TB that is the wrong cost model
for small mutations: deleting 100 rows out of a 1 GB file rewrites the
whole gigabyte.  This module adds the Delta-Lake-3.x-shaped alternative —
**deletion vectors** — where a DELETE writes O(deleted rows) of sidecar
metadata and the rewrite is deferred to an explicit
:func:`materialize_deletes` (the MOR "compaction").

Design (all distributed, nothing per-row on the driver):

- Row identity is ``(table-relative file path, parquet row index)`` via
  Spark's ``_metadata.file_path`` / ``_metadata.row_index`` generated
  columns — stable for a given file, free at scan time (no shuffle, no
  surrogate-key materialization).
- The vector store is plain parquet under ``<table>/_dv/`` with schema
  ``(src_file string, row_idx long)``; each commit stages one batch
  beside the table and renames it in, all-or-nothing, in the same move
  as the statement's data files.  Underscore-prefixed, so base reads
  and ``list_data_files`` never see it.
- :func:`read_mor` = base scan LEFT ANTI JOIN the vector set on that
  identity.  The DV side is tiny relative to the table by design (it only
  grows until the next materialize), so AQE plans it as a broadcast anti
  join — the base scan stays shuffle-free.  Every read of vector batches
  passes :data:`DV_SCHEMA` instead of inferring it (a footer job).
- ``dv_update_where`` = append the updated copies as new files, then
  deletion-vector the old positions (delete + insert, the MOR UPDATE).
  Matched rows are read from the verb's STARTING file list, never the
  table root, so the freshly appended copies can never be re-matched and
  tombstoned by the same statement.
- The three DV verbs — delete, update, merge, each locked or
  ``optimistic=True`` — are one writer (:func:`_dv_stage`) in the one
  DML commit loop (operators/commit.py).
- Crash ordering mirrors COW's "duplicates, never loss": new data lands
  before the tombstones that hide the old data.
- :func:`materialize_deletes` rewrites exactly the files that have
  vectors (anti-join applied), then drops the vector store.  It is one
  more stage of the same commit loop, so it commits a version and bumps
  both catalog epochs (the base scan's rows change).  Stale vectors
  keyed to replaced file names match nothing, so a crash mid-way leaves
  a readable table and a rerun converges.

Version-log unification (Delta-3.x shape): manifests pin the
deletion-vector batch files alongside the data files
(``versioning.fold_manifests``), so on a versioned table every DV verb
commits a first-class version — ``read_version`` applies the DV state
as-of, ``read_changes`` emits tombstoned rows as deletes (and RESTORE's
un-tombstones as inserts), ``restore_version`` renames DV batches through
the same metadata-only plan, and ``vacuum`` honors manifest references to
retired batches.  Those reads build without per-file work that grows
with history: one version-log listing and fold per call, one glob for
the pinned files (one more for any under ``_retired/``), schemas from
the reader's footer memo (operators/reader.py, no job), and, for
``read_changes`` over differing DV batches, one bounded collect of the
files they reference.  Every commit refreshes cached
frames by path (:func:`refresh_cached`, from the one post-commit
sequence ``commit.committed``), never session-wide.

The one remaining guard is COW-side: the file-REWRITING
verbs still refuse a table with live vectors (``commit._default_retain``)
— a base-scan rewrite would resurrect MOR-deleted rows — so the path from
MOR back to COW is :func:`materialize_deletes` (itself a commit).  Same
advisory writer lock as COW, so a MOR writer and a COW writer can never
interleave.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import reader
from .commit import MutationStats, Staged, run
from .mutate import (
    _check_merge_source,
    _cond,
    _group_by_dir,
    _partition_cols,
    _stage,
    _staged_rows,
    _swap_staged,
    is_partitioned,
    list_data_files,
)
from .reader import _fs, _hpath
from .storage import _delete_files, _reclaim, _rel_to_table

#: sidecar dir holding the vector parquet; underscore ⇒ invisible to
#: base parquet scans and to list_data_files
DV_DIR = "_dv"
#: every deletion-vector batch file's schema; reads pass it instead of
#: inferring it (inference is a footer job per read)
DV_SCHEMA = "src_file string, row_idx long"


def _dv_path(path: str) -> str:
    return f"{path.rstrip('/')}/{DV_DIR}"


def refresh_cached(spark: SparkSession, path: str) -> None:
    """Path-scoped cache refresh after a commit on ``path``: frames
    persisted over the table re-list their files, every other cached
    frame stays cached.  ``refreshByPath`` refreshes, in each cached
    plan, only the first relation under the path it meets, so the
    ``_dv/`` scan of a :func:`read_mor` frame is refreshed by its own
    path."""
    spark.catalog.refreshByPath(path)
    spark.catalog.refreshByPath(_dv_path(path))


def _dv_listing(spark: SparkSession, path: str) -> list[reader.Listed]:
    """The live deletion-vector batch files, as the reader lists them."""
    _, fs, _ = _fs(spark, path)
    if not fs.exists(_hpath(spark, _dv_path(path))):
        return []
    return reader.list_files(spark, _dv_path(path))


def has_deletion_vectors(spark: SparkSession, path: str) -> bool:
    """True when the table carries live (un-materialized) deletion
    vectors — i.e. base reads overcount and :func:`read_mor` is required."""
    return bool(_dv_listing(spark, path))


def list_dv_files(spark: SparkSession, path: str) -> list[str]:
    """Absolute URIs of the live deletion-vector batch parquet files —
    the unit the version manifests pin (batches are immutable once
    written: appends create new files, a prune writes a new batch and
    retires the old ones)."""
    return [f.path for f in _dv_listing(spark, path)]


def dv_count(spark: SparkSession, path: str) -> int:
    """Live tombstone count, from the batch files' footers (no job)."""
    return reader.row_count(spark, _dv_listing(spark, path))


def _read_dv_files(spark: SparkSession, files) -> DataFrame:
    """Deletion-vector batch files (or the ``_dv/`` dir) as one frame."""
    return spark.read.schema(DV_SCHEMA).parquet(*files)


def _read_dv(spark: SparkSession, path: str) -> DataFrame | None:
    if not has_deletion_vectors(spark, path):
        return None
    return _read_dv_files(spark, [_dv_path(path)])


def _qualified_root(spark: SparkSession, path: str) -> str:
    """The table root exactly as ``_metadata.file_path`` will spell its
    prefix (both go through Hadoop ``Path.toString()`` normalization, so
    e.g. ``file:///x`` and ``file:/x`` converge)."""
    jvm, fs, jpath = _fs(spark, path)
    return fs.makeQualified(jpath).toString()


def attach_identity(df: DataFrame, qualified_base: str) -> DataFrame:
    """Attach the MOR row identity to a parquet scan: ``__src_file`` =
    the file's path RELATIVE to ``qualified_base`` (spell the base via
    ``fs.makeQualified(...).toString()`` — it must match how
    ``_metadata.file_path`` spells its prefix, or tombstones silently
    stop matching and deleted rows resurrect) and ``__row_idx`` =
    ``_metadata.row_index``.  The ONE place this recipe lives; both the
    live MOR verbs and the time-travel pinned reads
    (versioning._read_pinned_files) go through it."""
    clash = {"__fp", "__row_idx", "__src_file"} & set(df.columns)
    if clash:
        # same guarded-working-column discipline as the CDC signed diff
        raise ValueError(
            f"table columns {sorted(clash)} collide with the merge-on-read "
            "working columns; rename them before using the MOR verbs or "
            "time-traveling a deletion-vector table"
        )
    return df.selectExpr(
        "*",
        "_metadata.row_index AS __row_idx",
        f"substring(_metadata.file_path, {len(qualified_base) + 2}) "
        "AS __src_file",
    )


def _with_identity(
    spark: SparkSession,
    path: str,
    files: list[reader.Listed],
    base_path: str | None,
) -> DataFrame:
    """Read an explicit file list with the MOR row identity attached as
    ``__src_file`` (table-relative) and ``__row_idx``.  Reading the LIST —
    not the root — pins the verb to its starting state: files appended
    later (e.g. this statement's own update copies) are invisible even
    under lazy re-evaluation."""
    return attach_identity(
        reader.read_files(spark, files, base_path),
        _qualified_root(spark, path),
    )


def _live(df: DataFrame, dv: DataFrame | None) -> DataFrame:
    """Drop rows already tombstoned (anti join on the row identity)."""
    if dv is None:
        return df
    return df.join(
        dv,
        (df["__src_file"] == dv["src_file"])
        & (df["__row_idx"] == dv["row_idx"]),
        "left_anti",
    )


def _no_match(
    spark: SparkSession, path: str, cond: Column, files: list[reader.Listed]
) -> bool:
    """No-op short-circuit: one footer-pruned existence probe (pushdown +
    LIMIT 1) so a statement matching nothing skips the stage machinery
    entirely — the MOR analog of the COW verbs' hit-list check.
    ``files`` is the table's recursive listing."""
    return reader.read(spark, path, files).where(cond).limit(1).count() == 0


def _dv_snapshot_conflict(
    spark: SparkSession, path: str, touched: set[str], dv0: set[str]
) -> str | None:
    """Inside the writer lock: validate an optimistic DV writer's
    snapshot.  Conflict (returns the reason string) when a concurrent
    commit retired/rewrote a file this writer's tombstones reference, or
    added/removed a deletion-vector batch touching one of those files.
    ``None`` = the snapshot still holds and the batch may move in."""
    _, fs, _ = _fs(spark, path)
    live_rel = {
        _rel_to_table(path, f)
        for f in list_data_files(spark, path, recursive=True)
    }
    gone = touched - live_rel
    if gone:
        return f"files retired/rewritten concurrently: {sorted(gone)[:3]}"
    dv_now = set(list_dv_files(spark, path))
    changed_batches = sorted(dv_now ^ dv0)
    # a batch file REMOVED since the snapshot (materialize prune,
    # restore) may be retired or deleted — its path no longer reads;
    # any store churn we cannot inspect at its original path is a
    # conflict (re-derive, don't guess)
    missing_b = [
        b
        for b in changed_batches
        if not fs.exists(_hpath(spark, b))
    ]
    if missing_b:
        return "a concurrent commit replaced deletion-vector batches"
    if changed_batches and touched:
        overlap = (
            _read_dv_files(spark, changed_batches)
            .where(F.col("src_file").isin(list(touched)))
            .limit(1)
            .count()
        )
        if overlap:
            return (
                "a concurrent commit changed tombstones on this "
                "writer's files"
            )
    return None


def _dv_stage(spark: SparkSession, path: str, legs, cond: Column | None):
    """The merge-on-read writer, as a :func:`~.commit.run` stage.

    READ: snapshot the data-file and DV-batch lists; ``live`` = the rows
    not yet tombstoned (under ``cond`` when given), read from the
    STARTING file list so the statement's own appended copies can never
    re-match.  ``legs(sub, live, data_cols, part_cols)`` returns
    ``(tombstones, copies, inserts)`` (``None`` for an absent leg).
    STAGE: the tombstone batch goes to a ``<table>__cow_dv_*`` sibling —
    never into ``_dv/``, which is live to readers — and copies/inserts to
    ``__cow_*`` siblings (``key=value`` dirs on a partitioned table).
    PUBLISH: copies and inserts move in FIRST, tombstones second — the
    COW-wide crash ordering: duplicates, never loss.

    The conflict unit (optimistic mode) is the FILE a tombstone
    references: writers touching disjoint files commit first-attempt; a
    concurrent commit that tombstoned, un-tombstoned, or retired one of
    THIS writer's files re-derives (:func:`_dv_snapshot_conflict`)."""

    def stage(created: list[str], optimistic: bool):

        listing = reader.list_files(spark, path, recursive=True)
        files0 = [f.path for f in listing]
        if not files0 and cond is None:
            raise ValueError(f"no parquet files under {path}")
        if not files0 or (
            cond is not None and _no_match(spark, path, cond, listing)
        ):
            return Staged(MutationStats(len(files0), 0, 0))
        partitioned = is_partitioned(spark, path)
        part_cols = (
            _partition_cols(path, files0[0]) if partitioned else []
        )
        sub = _with_identity(
            spark, path, listing, path if partitioned else None
        )
        data_cols = [
            c for c in sub.columns if c not in ("__src_file", "__row_idx")
        ]
        dv0 = list_dv_files(spark, path)
        dv = _read_dv_files(spark, dv0) if dv0 else None
        live = _live(sub if cond is None else sub.where(cond), dv)
        tombstones, copies, inserts = legs(sub, live, data_cols, part_cols)
        dv_staging = f"{path.rstrip('/')}__cow_dv_{uuid.uuid4().hex}"
        created.append(dv_staging)
        tombstones.select(
            F.col("__src_file").cast("string").alias("src_file"),
            F.col("__row_idx").cast("long").alias("row_idx"),
        ).write.parquet(dv_staging)
        staged_dv = _read_dv_files(spark, [dv_staging])
        n_dead = reader.row_count(spark, reader.list_files(spark, dv_staging))
        if not n_dead and inserts is None:
            return Staged(MutationStats(len(files0), 0, 0))
        # the batch's file set, which only validation reads — bounded by
        # the table's file count (metadata scale, like manifest lists)
        touched = (
            {
                r["src_file"]
                for r in staged_dv.select("src_file").distinct().collect()
            }
            if optimistic and n_dead
            else set()
        )

        def stage_rows(df: DataFrame | None) -> tuple[str | None, int]:
            if df is None:
                return None, 0
            staging = _stage(spark, path, df, created, part_cols)
            n = _staged_rows(spark, staging)
            if not n:  # nothing to move in: an empty file is junk
                _reclaim(spark, [staging])
            return (staging if n else None), n

        copy_dir, _ = stage_rows(copies)
        ins_dir, n_ins = stage_rows(inserts)
        if not n_dead:
            _reclaim(spark, [dv_staging])

        # one move: copies and inserts first, the tombstones that hide
        # the old rows last
        entries = [(path, [], copy_dir), (path, [], ins_dir)]
        if n_dead:
            entries.append((_dv_path(path), [], dv_staging))
        return Staged(
            MutationStats(len(files0), 0, n_dead, n_ins),
            publish=lambda _: _swap_staged(spark, path, entries, False),
            validate=lambda: _dv_snapshot_conflict(
                spark, path, touched, set(dv0)
            ),
            check=(
                None
                if copies is None and inserts is None
                else [d for d in (copy_dir, ins_dir) if d]
            ),
        )

    return stage


def dv_delete_where(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    _after_stage=None,
) -> MutationStats:
    """Merge-on-read ``DELETE``: tombstone the matched row positions
    instead of rewriting their files — O(deleted rows) written, zero data
    files touched.  SQL three-valued logic (NULL keeps the row), same as
    :func:`~.mutate.delete_where`.  ``rows_matched`` counts rows newly
    deleted (already tombstoned rows never double-count); ``files_total``
    is the data-file count the statement started from.  Read back via
    :func:`read_mor`.  ``lock_wait_seconds`` > 0 waits for a busy writer
    lock instead of refusing (parallel appliers serialize).  The
    tombstone batch stages beside the table and renames into ``_dv/``
    all-or-nothing.

    ``optimistic=True`` runs the matched-row scan and the batch write
    outside the writer lock; only a metadata validate-and-move-in
    serializes.  Batches are append-only, so the conflict unit is the
    FILE a tombstone references: writers deleting from disjoint files
    both commit on their first attempt; a concurrent commit that
    tombstoned, un-tombstoned, or retired one of THIS writer's files
    re-derives the matched set (and the already-tombstoned exclusion that
    keeps the count exact) and retries.  The commit keywords pass to
    :func:`~.commit.run`."""

    def legs(sub, live, data_cols, part_cols):
        return live, None, None

    cond = _cond(condition)
    return run(
        spark, path, _dv_stage(spark, path, legs, cond),
        what="DV DELETE", optimistic=optimistic, max_attempts=max_attempts,
        lock_wait_seconds=lock_wait_seconds, _after_stage=_after_stage,
    )


def dv_update_where(
    spark: SparkSession,
    path: str,
    set_map: dict[str, str | Column],
    condition: str | Column,
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    _after_stage=None,
) -> MutationStats:
    """Merge-on-read ``UPDATE`` = insert the updated copies, tombstone the
    originals.  Cost is O(matched rows), not O(files containing them).

    Works on flat AND hive-partitioned tables: copies route to their
    ``key=value`` directories through a partitioned staging write (the
    same mover the COW verbs use), and — because an updated copy keeps
    its partition values — assigning a PARTITION column is refused, the
    COW rule.  Assignments cast back to the column's existing type
    (schema stability).  CHECK constraints are enforced over the staged
    copies BEFORE anything becomes visible.  Stats and the commit
    keywords are :func:`dv_delete_where`'s; ``optimistic=True`` stages
    both writes lock-free and re-checks constraints inside the commit
    lock if the registered set changed meanwhile."""

    def legs(sub, live, data_cols, part_cols):
        unknown = set(set_map) - set(data_cols)
        if unknown:
            raise ValueError(
                f"UPDATE SET on unknown columns: {sorted(unknown)}"
            )
        part_here = [c for c in set_map if c in part_cols]
        if part_here:
            raise ValueError(
                f"UPDATE SET on partition columns: {sorted(part_here)}; "
                "changing a row's partition is a delete + insert"
            )
        updated = live.select(
            *[
                _cond(set_map[c]).cast(sub.schema[c].dataType).alias(c)
                if c in set_map
                else F.col(c)
                for c in data_cols
            ]
        )
        return live, updated, None

    cond = _cond(condition)
    return run(
        spark, path, _dv_stage(spark, path, legs, cond),
        what="DV UPDATE", optimistic=optimistic, max_attempts=max_attempts,
        lock_wait_seconds=lock_wait_seconds, _after_stage=_after_stage,
    )


def _merge_col_checks(
    data_cols: list[str],
    part_cols: list[str],
    matched_set: dict | None,
    insert_values: dict | None,
) -> None:
    """Clause-column validation of :func:`dv_merge_into`."""
    if matched_set:
        unknown = set(matched_set) - set(data_cols)
        if unknown:
            raise ValueError(
                f"MERGE matched_set on unknown columns: {sorted(unknown)}"
            )
        part_hit = [c for c in matched_set if c in part_cols]
        if part_hit:
            raise ValueError(
                f"MERGE matched_set on partition columns: "
                f"{sorted(part_hit)}; changing a row's partition is a "
                "delete + insert"
            )
    if insert_values:
        unknown = set(insert_values) - set(data_cols)
        if unknown:
            raise ValueError(
                f"MERGE insert_values on unknown columns: "
                f"{sorted(unknown)}"
            )


def _merge_frames(
    sub: DataFrame,
    live: DataFrame,
    src: DataFrame,
    on: list[str],
    data_cols: list[str],
    matched_set: dict | None,
    matched_delete,
    insert_values: dict | None,
    insert_condition,
    skip_unchanged: bool,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Leg derivation of :func:`dv_merge_into`: returns
    ``(updated_copies, tombstone_entries, insert_rows)`` against the
    caller's ``live`` snapshot.  Clause semantics documented on
    :func:`dv_merge_into` (delete-before-update, three-valued WHERE,
    ``src_<name>`` scope, insert defaults, ``skip_unchanged``)."""
    joined = live.join(src, on=on, how="inner")
    # delete-before-update, the COW merge's documented clause order;
    # three-valued WHERE: NULL keeps the row on the update path
    if matched_delete is not None:
        dcond = _cond(matched_delete)
        dead_j = joined.where(dcond)
        upd_j = joined.where(
            ~F.coalesce(dcond.cast("boolean"), F.lit(False))
        )
    else:
        dead_j = joined.limit(0)
        upd_j = joined
    if matched_set is None:
        upd_j = joined.limit(0)
    elif skip_unchanged:
        # a row is worth rewriting only if SOME assignment changes it
        # (null-safe compare, post-cast, so type coercion can't fake
        # a diff); everything else stays untouched — not tombstoned,
        # not copied, not a version
        changed = F.lit(False)
        for c in matched_set:
            changed = changed | ~_cond(matched_set[c]).cast(
                sub.schema[c].dataType
            ).eqNullSafe(F.col(c))
        upd_j = upd_j.where(changed)
    updated = upd_j.select(
        *[
            _cond(matched_set[c]).cast(sub.schema[c].dataType).alias(c)
            if matched_set and c in matched_set
            else F.col(c)
            for c in data_cols
        ]
    )
    # inserts: source keys with no live target partner
    unmatched = src.join(
        live.select(*on).distinct(), on=on, how="left_anti"
    )
    if insert_condition is not None:
        unmatched = unmatched.where(_cond(insert_condition))
    iv = insert_values or {}
    ins_cols = []
    for c in data_cols:
        dt = sub.schema[c].dataType
        if c in iv:
            e = _cond(iv[c])
        elif c in on:
            e = F.col(c)
        elif f"src_{c}" in unmatched.columns:
            e = F.col(f"src_{c}")
        else:
            e = F.lit(None)
        ins_cols.append(e.cast(dt).alias(c))
    ins_df = unmatched.select(*ins_cols)
    tombstones = dead_j.select("__src_file", "__row_idx").unionByName(
        upd_j.select("__src_file", "__row_idx")
    )
    return updated, tombstones, ins_df


def _merge_src(source: DataFrame, on: list[str]) -> DataFrame:
    """Source-column scoping of :func:`dv_merge_into`: join keys keep
    their names, everything else becomes ``src_<name>`` (expression
    scope for clause conditions/assignments — never written; schema
    evolution stays a COW-path feature)."""
    return source.select(
        *[
            F.col(c).alias(c if c in on else f"src_{c}")
            for c in source.columns
        ]
    )


def dv_merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    matched_set: dict[str, str | Column] | None = None,
    insert_values: dict[str, str | Column] | None = None,
    check_unique: bool = True,
    matched_delete: str | Column | None = None,
    insert_condition: str | Column | None = None,
    skip_unchanged: bool = False,
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    _after_stage=None,
) -> MutationStats:
    """Merge-on-read ``MERGE INTO``: the matched legs are exactly
    :func:`dv_update_where`'s machinery — tombstone the old row images,
    append the updated copies — and the insert leg appends new files, so
    the whole statement costs O(matched + inserted rows) with ZERO file
    rewrites (the COW merge rewrites every file containing a matched
    key, ``mutate.merge_into``).  This is the verb the streaming CDC
    upsert writer wants per micro-batch: a k-key batch writes O(k) rows.

    Clause semantics mirror ``mutate.merge_into`` (same ``src_<name>``
    scope, delete-before-update evaluation, insert defaults); schema
    evolution is refused here — evolve on the COW path, then switch.
    CHECK constraints are enforced over the staged copies + inserts
    before anything becomes visible; on a versioned table the statement
    commits one version.  Crash ordering is the COW-wide contract:
    new data lands before the tombstones that hide the old (duplicates,
    never loss), and matched rows are read from the verb's STARTING file
    list so its own appends can never re-match.

    ``skip_unchanged=True`` drops matched rows whose assigned values all
    null-safe-equal the current ones BEFORE staging: an idempotent replay
    (the CDC applier's ``CASE WHEN newer THEN src_c ELSE c END`` on a
    late/duplicate batch) then tombstones nothing, appends nothing, and
    commits no version — no write amplification from at-least-once
    delivery.  Off by default because a no-op update IS a row rewrite
    under plain MERGE semantics (the copy gets a fresh row identity).

    ``optimistic=True`` runs the join and every staging write outside
    the writer lock; the conflict unit is :func:`dv_delete_where`'s, so
    merges touching disjoint files commit on their first attempt.
    Isolation is WRITE-SERIALIZABLE: a concurrent INSERT of the same key
    is not a conflict (this merge serializes before it) — the Delta
    WriteSerializable anomaly that ``mutate.merge_into`` documents — so
    a pure-insert merge commits first-attempt under any non-overlapping
    churn."""

    _check_merge_source(source, on, check_unique)

    def legs(sub, live, data_cols, part_cols):
        # source-only columns are expression scope (src_<name> in the
        # clause conditions/assignments, e.g. a CDC op column), same as
        # the COW merge; they are never WRITTEN — schema evolution stays
        # a COW-path feature (merge_into(..., evolve_schema=True))
        _merge_col_checks(data_cols, part_cols, matched_set, insert_values)
        updated, tombstones, ins_df = _merge_frames(
            sub, live, _merge_src(source, on), on, data_cols, matched_set,
            matched_delete, insert_values, insert_condition, skip_unchanged,
        )
        return tombstones, updated, ins_df

    # files_rewritten = 0 is the point: matched rows tombstone + re-append
    return run(
        spark, path, _dv_stage(spark, path, legs, None),
        what="DV MERGE", optimistic=optimistic, max_attempts=max_attempts,
        lock_wait_seconds=lock_wait_seconds, _after_stage=_after_stage,
    )


def read_mor(spark: SparkSession, path: str) -> DataFrame:
    """The table with deletion vectors applied — the only correct read of
    a table where :func:`has_deletion_vectors` is true.  One broadcast
    anti join over the base scan (AQE sizes the DV side; it is small by
    design until :func:`materialize_deletes` resets it); no shuffle of
    the base data.  Both sides read their DIRECTORIES (the table root,
    whose underscore dirs discovery skips, and ``_dv/``), so a frame
    persisted over this read re-lists both when a commit refreshes the
    table's path; the base schema comes from the reader's footer memo
    and the DV side's is fixed, so building the frame runs no job."""
    dv = _read_dv(spark, path)
    df = reader.read(spark, path)
    if dv is None:
        return df
    df = attach_identity(df, _qualified_root(spark, path))
    return _live(df, dv).drop("__src_file", "__row_idx")


def materialize_deletes(
    spark: SparkSession, path: str, min_dead_ratio: float = 0.0
) -> MutationStats:
    """MOR compaction: rewrite exactly the files that carry tombstones
    (vectors applied), drop their vectors.  After a FULL materialize,
    plain base reads are correct again and the COW verbs are usable.

    ``min_dead_ratio`` > 0 makes it incremental — the steady-state policy
    at scale: only files whose dead fraction reaches the threshold are
    rewritten (one extra count-shape job over just the tombstoned files
    decides), the rest keep their vectors and :func:`read_mor` stays the
    read path.  Vectors of rewritten files are pruned from the store so
    it shrinks as files graduate.

    Crash discipline, stated honestly (the COW-wide "duplicates, never
    loss" contract, not more): every rewrite stages FIRST (all
    directories complete before any original file moves), so no crash
    point loses rows.  A crash before the swap leaves the old files +
    vectors intact — :func:`read_mor` stays exact and a rerun converges
    (stale staging dirs are crash debris for repair_table) — and so does
    a rename that fails during it (the swap is one all-or-nothing move).
    A process that dies inside the swap can leave live rows duplicated
    until repair — the same window every COW swap has.  The vector STORE
    itself is never unprotected: a partial materialize moves the pruned
    store in beside the old batch files before they go, so tombstones
    for still-live files exist on disk at every instant (worst case
    duplicated, which the anti join doesn't care about).

    ``files_rewritten`` counts the tombstoned files whose vectors the call
    folds; a rerun after a crash mid-swap also counts the files the
    crashed run already rewrote, whose stale vectors it drops.  The call
    commits through the locked DML commit loop (:func:`~.commit.run`)."""
    from .versioning import list_snapshots

    def stage(created: list[str], optimistic: bool) -> Staged:
        dv = _read_dv(spark, path)
        files = reader.list_files(spark, path, recursive=True)
        if dv is None:
            return Staged(MutationStats(len(files), 0, 0))
        dead_rel = {
            r["src_file"]
            for r in dv.select("src_file").distinct().collect()
        }
        hit = [f for f in files if _rel_to_table(path, f.path) in dead_rel]
        if min_dead_ratio > 0 and hit:
            # dead fraction per file: row totals come from a scan of the
            # row_index column only (no data columns decoded) over just
            # the tombstoned files
            totals = (
                _with_identity(spark, path, hit, None)
                .groupBy("__src_file")
                .agg(F.count("*").alias("total"))
            )
            dead = dv.groupBy("src_file").agg(
                F.count("*").alias("dead")
            )
            due = {
                r["src_file"]
                for r in totals.join(
                    dead, totals["__src_file"] == dead["src_file"]
                )
                .where(F.col("dead") >= min_dead_ratio * F.col("total"))
                .select("src_file")
                .collect()
            }
            hit = [f for f in hit if _rel_to_table(path, f.path) in due]
            dead_rel = due
            if not hit:
                # nothing reached the threshold: keep every vector
                return Staged(MutationStats(len(files), 0, 0))
        # stage EVERY directory's rewrite before any original file moves
        # (the COW stage-all-then-swap discipline: a crash in the staging
        # phase leaves the table byte-identical).  Groups: flat tables
        # have one, partitioned tables one per touched partition dir — no
        # partition-column reconstruction needed, the identity join keys
        # on file name + position.
        staged = []
        for dir_, fl in sorted(_group_by_dir(hit).items()):
            sub = _with_identity(spark, path, fl, None)
            kept = _live(sub, dv).drop("__src_file", "__row_idx")
            staged.append(
                (dir_, [f.path for f in fl], _stage(spark, path, kept, created))
            )
        # partial materialize: the store shrinks by the graduated files'
        # vectors.  The pruned copy stages now, while the old batch files
        # it reads are all still live
        survivors = dv.where(~F.col("src_file").isin(list(dead_rel)))
        pruned = (
            _stage(spark, path, survivors, created)
            if hit and survivors.limit(1).count()
            else None
        )
        # versioned / snapshotted tables retire superseded files (data
        # AND deletion-vector batches) instead of deleting — older
        # manifests pin them, the same auto-retain rule as the COW verbs
        retain = bool(list_snapshots(spark, path))

        def publish(_) -> None:
            # ONE move: the rewrites and the pruned store land beside the
            # old files and batches, which retire in the same move — the
            # store is never empty or missing (at-least-once tombstones at
            # every crash point, which the anti join reads identically).
            # A full materialize then drops the store dir; on a versioned
            # table its batches have retired, reachable for time travel
            dv_root = _dv_path(path)
            old_dv = list_dv_files(spark, path) if retain or pruned else []
            _swap_staged(
                spark, path, staged + [(dv_root, old_dv, pruned)], retain
            )
            if not pruned:
                _delete_files(spark, [dv_root], recursive=True)

        return Staged(
            MutationStats(len(files), len(dead_rel), 0), publish=publish
        )

    return run(spark, path, stage, what="materialize_deletes")
