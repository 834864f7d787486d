"""Copy-on-write UPDATE / DELETE / MERGE INTO over parquet table directories.

Reference parity and one step beyond: the reference PARSES UPDATE/DELETE but
never executes them (``engine/src/parser.cpp:232-296`` builds the statement
AST; the CLI routes execution to MySQL and the standalone optimizer skips
DML).  This module EXECUTES all three verbs Delta-style without a
transaction log — copy-on-write at FILE granularity.

How it scales (the design constraint):

1. **Prune** — find the files containing at least one affected row with a
   predicate-pushed scan grouped by ``_metadata.file_path``.  Parquet footer
   min/max statistics let that scan skip non-matching row groups, so on a
   range-clustered table (``sources.write(sort_for_skipping=...)``) the
   prune is metadata-dominated.  The resulting file LIST is table metadata
   (what Delta keeps in its log) — thousands of names, never rows — and is
   the only thing that crosses to the driver.
2. **Rewrite** — read ONLY the affected files, apply the mutation, write the
   survivors to a sibling staging directory.  Untouched files are never
   opened: at 100 TB a point DELETE on the cluster key rewrites one file,
   not the table.
3. **Swap** — move staged files into the table directory, then delete the
   originals.  Stage-then-swap means the mutation is materialized before
   any original byte is removed; a crash mid-swap can leave BOTH copies
   (detectable, re-runnable), never neither.

This module owns the copy-on-write half of the table protocol: the
prune, the staging writes, the part-file names a publish gives staged
files, and crash inventory (:func:`repair_table`).  Every directory
mutation — the publish's one all-or-nothing move, deletes, the writer
lock, small files — goes through operators/storage.py.

Retention & time travel: every verb takes ``retain=True`` to move superseded
files into an underscore-prefixed ``_retired/`` area (invisible to normal
reads) instead of deleting them; ``create_snapshot`` pins the table's
current file list as a named manifest, ``read_snapshot`` reads exactly that
list back (COW never rewrites a file in place, so a pinned list IS a
consistent version), and ``vacuum`` purges retired files no manifest
references.  ``enable_versioning`` builds a linear VERSION LOG on top:
every mutating verb auto-commits the next numbered manifest inside the
writer lock, giving readers snapshot isolation (``read_version`` pins a
version's exact bytes across later DML).

Concurrency: every verb commits through ONE loop (operators/commit.py,
stage → lock → validate → publish).  By default a verb is LOCKED: it
takes the advisory single-writer lock first (a second writer is detected
and refused).  ``optimistic=True`` runs the same writer in the loop's
OPTIMISTIC mode, on flat and hive-partitioned tables alike — stage
without the lock, then validate-and-swap under a short bounded-wait
lock, retrying against the newly committed state on conflict (the
Delta/Iceberg commit-loop shape; the protocol and its isolation level
are described in operators/commit.py).  Two writers on disjoint files
both commit; writers on overlapping files serialize via retry with no
lost update.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import zorder_key
from . import reader
from .commit import MutationStats, Staged, _default_retain, run
from .reader import Listed, _fs, _hpath, _uri_path
from .storage import (
    LOCK_FILE,
    RETIRED_DIR,
    _delete_files,
    _reclaim,
    _rel_to_table,
    move,
)


#: set to "false" to opt out of post-DML bloom-index maintenance (the
#: indexes stay CORRECT either way — unindexed files are always probe
#: candidates — they just stop earning skips until a manual refresh)
AUTO_REFRESH_INDEX_CONF = "spark.sqlopt.autoRefreshIndexes"


def _cond(condition: str | Column) -> Column:
    return F.expr(condition) if isinstance(condition, str) else condition


def list_data_files(
    spark: SparkSession, path: str, recursive: bool = False
) -> list[str]:
    """Parquet data files currently making up the table (full URIs); the
    paths of :func:`.reader.list_files`, which says when ``recursive``
    is needed."""
    return [f.path for f in reader.list_files(spark, path, recursive)]


def is_partitioned(spark: SparkSession, path: str) -> bool:
    """True when the table dir uses hive-style ``key=value`` partition
    subdirectories."""
    _, fs, jpath = _fs(spark, path)
    return any(
        is_dir and "=" in f.path.rsplit("/", 1)[-1]
        for f, is_dir in reader.statuses(spark, fs.listStatus(jpath))
    )


def affected_files(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    files: list[Listed] | None = None,
) -> list[str]:
    """Files containing ≥1 row where ``condition`` is TRUE (the prune step).

    The scan pushes ``condition`` into the parquet reader, so row groups
    whose footer min/max exclude it are skipped without decoding — on a
    range-clustered table this reads footers, not data.  The file name
    comes from the ``_metadata`` column, never ``input_file_name()``:
    a frame persisted over the table would serve this scan from the
    cache, where every file name reads empty.  ``files`` is the caller's
    recursive listing of the table, when it has one.
    """
    df = reader.read(spark, path, files)
    rows = (
        df.where(_cond(condition))
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    )
    return sorted(r["f"] for r in rows)


def _stage(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    created: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> str:
    """Materialize ``df`` to a sibling staging dir NOW (while every file its
    plan reads still exists) and return the staging path.  ``created``
    (when given) records the path BEFORE the write starts, so a failure
    mid-write still leaves the caller knowing exactly what to reclaim.
    ``partition_by`` writes hive ``key=value`` subdirectories (a NULL
    partition value routes to Hive's default partition dir)."""
    staging = path.rstrip("/") + f"__cow_{uuid.uuid4().hex}"
    if created is not None:
        created.append(staging)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    return staging


def _staged_rows(spark: SparkSession, staging: str) -> int:
    """Row count of a staged write from parquet footers (no data I/O, no
    job); 0 for an empty partitioned staging (which writes no part
    files)."""
    return reader.row_count(
        spark, reader.list_files(spark, staging, recursive=True)
    )


def _group_by_dir(files: list) -> dict[str, list]:
    """Group file URIs (or :class:`~.reader.Listed` entries) by their
    containing directory — the per-partition unit every partitioned verb
    swaps on.  One shared implementation so a future normalization fix
    (e.g. URI scheme forms) reaches all of them."""
    groups: dict[str, list] = {}
    for f in files:
        groups.setdefault(
            getattr(f, "path", f).rsplit("/", 1)[0], []
        ).append(f)
    return groups


def _partition_cols(path: str, sample_file: str) -> list[str]:
    """Partition columns of a hive-layout table: the ``key=value``
    directory names between the table root and one of its data files
    (written by ``partitionBy``, the files never carry them)."""
    return reader.partition_keys(path, sample_file)


def _retired(path: str, files: list[str]) -> list[tuple[str, str]]:
    """``(file, new home)`` pairs retiring ``files`` into one fresh
    ``_retired/<batch>/`` dir instead of deleting them — the raw material
    time travel and snapshot reads are made of.

    The TABLE-RELATIVE path is preserved under the batch dir (not just the
    basename): partitioned writes reuse part numbers across partition
    dirs, so ``lang=en/part-00000-x.parquet`` and
    ``lang=de/part-00000-x.parquet`` must retire to distinct locations.
    """
    batch = f"{path.rstrip('/')}/{RETIRED_DIR}/{uuid.uuid4().hex[:12]}"
    return [(f, f"{batch}/{_rel_to_table(path, f)}") for f in files]


def _swap_staged(
    spark: SparkSession,
    path: str,
    staged: list[tuple[str, list[str], str | None]],
    retain: bool,
) -> None:
    """Phase 2 of every writer that stages files: publish each ``(dir,
    old_files, staging)`` entry.  Its staged part files move into ``dir``
    under fresh unique COW names (no staging: nothing moves in) and, when
    ``retain``, its originals retire — all in ONE all-or-nothing
    :func:`~.storage.move` (pooled across files and partitions); without
    ``retain`` the originals are deleted after it.  Then the emptied
    staging dirs are reclaimed, best effort.  A hive-partitioned
    staging's ``key=value`` subdirectories land in the matching
    directories (created as needed; the table root and every dir holding
    an old file are known to exist): the partition value lives in the
    directory name, so preserving each staged file's relative path IS
    the data move.  A rename keeps a file's bytes, so the reader's
    footer memo follows each file to its new name.

    MUST only run after ALL partitions are staged: phase 1 may re-evaluate
    a plan that reads the table itself (a MERGE source derived from the
    target), so no original file may disappear while any staging write is
    still pending.  Crash semantics: death in phase 1 leaves only orphan
    staging dirs (table untouched, ``repair_table`` reclaims); a failed
    rename in phase 2 renames back what already moved (the table reads
    as before the statement, unless an undo rename fails too — the error
    names what stayed moved); only death during the move, or a failed
    delete of the originals after it, can leave new parts beside their
    originals (duplicates, never loss).
    """
    parts: list[tuple[Listed, str]] = []
    existing: set[str] = set()

    def walk(fs, src_dir: str, dest_dir: str, tag: str) -> None:
        for f, is_dir in reader.statuses(
            spark, fs.listStatus(_hpath(spark, src_dir))
        ):
            name = f.path.rsplit("/", 1)[-1]
            if name.startswith(("_", ".")):
                continue
            if is_dir:
                walk(fs, f.path, f"{dest_dir}/{name}", tag)
            else:
                parts.append((
                    f,
                    f"{dest_dir}/part-cow-{tag}-{len(parts):05d}.snappy.parquet",
                ))

    for dest_dir, old_files, staging in staged:
        if staging:
            _, fs, jpath = _fs(spark, dest_dir)
            qualified = fs.makeQualified(jpath).toString()
            if old_files or dest_dir == path:
                existing.add(qualified)
            walk(fs, staging, qualified, uuid.uuid4().hex[:12])
    old = [f for _, fl, _ in staged for f in fl]
    move(
        spark,
        [(f.path, dest) for f, dest in parts]
        + (_retired(path, old) if retain else []),
        existing,
    )
    reader.renamed(spark, parts)
    if not retain:
        _delete_files(spark, old)
    _reclaim(spark, [s for _, _, s in staged if s])


#: Concurrent Spark jobs for the per-partition STAGING phase.  Partition
#: rewrites are independent jobs; a serial loop leaves the cluster idle
#: between job tails.  Each staging job already fans out across executor
#: cores, so a few in flight saturate.
STAGE_JOBS = 8


def _run_partition_stages(
    spark: SparkSession, path: str, items, stage_one, created=None
):
    """Phase 1 of every partitioned COW verb: run ``stage_one(item,
    created)`` for every partition, a few CONCURRENT Spark jobs at a time
    (partition rewrites are independent; Spark schedules concurrent jobs
    from threads fairly).  ``created`` is a list the callee must hand to
    :func:`_stage`, which registers each staging path BEFORE writing to
    it (pass the caller's own registry as ``created`` to share it).
    Returns results in the input order.

    On any failure: pending stages are CANCELLED (a failed mutation must
    not burn the cluster finishing rewrites whose output is about to be
    deleted), in-flight ones are awaited, and exactly the staging dirs
    THIS call registered are reclaimed — never a sibling's.  A pattern
    sweep (``<table>__cow_*``) would also delete a concurrent optimistic
    writer's staging, which stages lock-free by design.  No original has
    been touched in phase 1.
    """
    items = list(items)
    if created is None:
        created = []  # list.append is atomic under the GIL
    try:
        if len(items) == 1:
            return [stage_one(items[0], created)]
        with ThreadPoolExecutor(
            max_workers=min(STAGE_JOBS, max(len(items), 1))
        ) as ex:
            futures = [ex.submit(stage_one, it, created) for it in items]
            try:
                return [f.result() for f in futures]
            except Exception:
                for f in futures:
                    f.cancel()
                raise
    except Exception:
        # phase-1 failure: executor shutdown awaited the in-flight tasks,
        # so `created` is final — reclaim exactly what was registered
        _reclaim(spark, created)
        raise


def _stage_rewrites(
    spark: SparkSession,
    path: str,
    hit: list[str],
    part_cols: list[str],
    rewrite,
    created: list[str],
    listing: list[Listed],
) -> tuple[list[tuple[str, list[str], str]], int]:
    """Stage the rewrite of every touched directory's ``hit`` files (one
    group when the table has no ``part_cols``) with
    :func:`_run_partition_stages`; returns the
    ``(dir, old_files, staging)`` entries :func:`_swap_staged` publishes
    and the matched-row total.  ``rewrite(sub) -> (rewritten, matched)``
    maps one group's files — read with ``basePath`` so partition columns
    are in scope; they drop before writing, the directory name carries
    them — to its rewrite and a zero-arg matched-count callable resolved
    after the staging write (an observed metric: one job per group, not
    a count plus a write).  ``listing`` is the table's listing the hits
    were found in; it carries the memo keys the group reads look up."""
    listed = {_uri_path(f.path): f for f in listing}

    def stage_one(item: tuple[str, list[str]], cr: list[str]):
        part_dir, pfiles = item
        # a hit missing from the listing (replaced since) reads under
        # its own name and fails as a missing file, as a scan would
        sub = [
            listed.get(_uri_path(f)) or Listed(_uri_path(f), -1, -1)
            for f in pfiles
        ]
        rewritten, matched = rewrite(reader.read_files(spark, sub, path))
        staging = _stage(spark, path, rewritten.drop(*part_cols), cr)
        return part_dir, pfiles, staging, matched

    groups = sorted(_group_by_dir(hit).items()) if part_cols else [(path, hit)]
    results = _run_partition_stages(spark, path, groups, stage_one, created)
    matched = sum(m() for *_, m in results)
    return [(d, p, s) for d, p, s, _ in results], matched


def _rewrite_stage(
    spark: SparkSession, path: str, cond: Column, build, enforce: bool
):
    """The copy-on-write writer of the point verbs, as a
    :func:`~.commit.run` stage: prune the files holding ≥1 matched row,
    stage every touched directory's rewrite (:func:`_stage_rewrites`;
    ``build(sub, part_cols) -> (rewritten, matched)``), publish by
    :func:`_swap_staged`.  On a hive-partitioned table the prune runs
    over the partitioned read, so partition-column predicates skip whole
    directories.

    Validation is by exact file-name set (COW part names are
    uuid-unique, so name identity == content identity), scoped to the
    directories this attempt read: writers on disjoint files — and so on
    disjoint partitions — both commit, and the in-lock re-list costs
    O(files in touched partitions), never O(table)."""

    def stage(created: list[str], optimistic: bool):

        partitioned = is_partitioned(spark, path)
        listing = reader.list_files(spark, path, recursive=partitioned)
        files = [f.path for f in listing]
        hit = affected_files(spark, path, cond, listing)
        if not hit:
            return Staged(MutationStats(len(files), 0, 0))
        part_cols = _partition_cols(path, files[0]) if partitioned else []
        staged, matched = _stage_rewrites(
            spark, path, hit, part_cols, lambda sub: build(sub, part_cols),
            created, listing,
        )

        def validate() -> str | None:
            # compare DECODED PATH COMPONENTS, not raw URIs: the scan's
            # file names (hit) percent-encode, Hadoop's Path.toString
            # (the re-list) does not
            _, fs, _ = _fs(spark, path)
            current: set[str] = set()
            for part_dir, _, _ in staged:
                if not fs.exists(_hpath(spark, part_dir)):
                    return "<partition dir removed>"
                current |= {
                    _uri_path(f) for f in list_data_files(spark, part_dir)
                }
            gone = sorted(f for f in hit if _uri_path(f) not in current)
            return f"files replaced: {gone[:3]}" if gone else None

        return Staged(
            MutationStats(len(files), len(hit), matched),
            publish=lambda retain: _swap_staged(spark, path, staged, retain),
            validate=validate,
            check=[s for _, _, s in staged] if enforce else None,
            rewrites=True,
        )

    return stage


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    retain: bool | None = None,
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    _after_stage=None,
) -> MutationStats:
    """``DELETE FROM <path> WHERE condition`` — SQL three-valued logic:
    only rows where the predicate is TRUE are deleted; NULL keeps the row
    (exactly what ``DELETE`` does in every SQL engine).  Works on flat and
    hive-partitioned tables (per-partition swap; partition-column
    predicates prune whole directories).

    ``optimistic=True`` stages outside the writer lock and commits or
    retries (up to ``max_attempts``) under it: concurrent writers on
    disjoint files — on a partitioned table, disjoint partitions — both
    commit.  ``lock_wait_seconds`` and ``_after_stage`` pass to
    :func:`~.commit.run`, which documents the protocol."""

    cond = _cond(condition)

    def build(sub: DataFrame, part_cols: list[str]):
        # observe BEFORE the keep-filter so the metric sees every row;
        # count(when(cond, 1)) matches where(cond).count() under
        # three-valued logic (NULL and FALSE both go uncounted)
        obs = Observation()
        observed = sub.observe(
            obs, F.count(F.when(cond, F.lit(1))).alias("matched")
        )

        def matched() -> int:
            from py4j.protocol import Py4JJavaError

            try:
                return obs.get["matched"]
            except Py4JJavaError:
                # no metric row: a predicate constant-TRUE over these rows
                # folds the keep-filter to FALSE and the optimizer prunes
                # the observed subtree with it — count directly
                return sub.where(cond).count()

        return observed.where(~F.coalesce(cond, F.lit(False))), matched

    return run(
        spark, path, _rewrite_stage(spark, path, cond, build, enforce=False),
        retain=retain, what="DELETE", optimistic=optimistic,
        max_attempts=max_attempts, lock_wait_seconds=lock_wait_seconds,
        _after_stage=_after_stage,
    )


def update_where(
    spark: SparkSession,
    path: str,
    set_map: dict[str, str | Column],
    condition: str | Column,
    retain: bool | None = None,
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    _after_stage=None,
) -> MutationStats:
    """``UPDATE <path> SET col = expr, ... WHERE condition``.

    Each assignment is cast back to the column's EXISTING type: a COW
    rewrite must never drift the schema of rewritten files away from the
    untouched ones (a widened column would poison every later scan).

    Works on flat and hive-partitioned tables; assigning a PARTITION
    column is refused — changing a row's partition value means moving it
    between directories, which is a delete+insert, not an update.
    ``optimistic`` and the commit keywords are :func:`delete_where`'s.
    """

    cond = _cond(condition)

    def build(sub: DataFrame, part_cols: list[str]):
        part_here = [c for c in set_map if c in part_cols]
        if part_here:
            raise ValueError(
                f"UPDATE SET on partition columns: {sorted(part_here)}; "
                "changing a row's partition is a delete + insert"
            )
        unknown = set(set_map) - set(sub.columns)
        if unknown:
            raise ValueError(
                f"UPDATE SET on unknown columns: {sorted(unknown)}"
            )
        obs = Observation()  # see delete_where
        observed = sub.observe(
            obs, F.count(F.when(cond, F.lit(1))).alias("matched")
        )
        projected = [
            F.when(F.coalesce(cond, F.lit(False)), _cond(set_map[c]))
            .otherwise(F.col(c))
            .cast(sub.schema[c].dataType)
            .alias(c)
            if c in set_map
            else F.col(c)
            for c in sub.columns
        ]
        return observed.select(*projected), lambda: obs.get["matched"]

    return run(
        spark, path, _rewrite_stage(spark, path, cond, build, enforce=True),
        retain=retain, what="UPDATE", optimistic=optimistic,
        max_attempts=max_attempts, lock_wait_seconds=lock_wait_seconds,
        _after_stage=_after_stage,
    )


#: Widening chains evolve_schema accepts: any hop rightward is safe (no
#: value can be lost).  Everything off-chain is refused loudly.
_WIDEN_RANK = {
    "tinyint": ("i", 1),
    "smallint": ("i", 2),
    "int": ("i", 3),
    "bigint": ("i", 4),
    "float": ("f", 1),
    "double": ("f", 2),
}


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Schema-merging read of a COW table.  Required after an
    ``evolve_schema`` MERGE added columns: older untouched files lack the
    new columns and backfill NULL at read time (the parquet-native
    evolution story — the schema lives in the union of file footers, and
    new-nullable-column evolution never rewrites old files).  The
    schema comes from the footer memo (:mod:`.reader`), not a job."""
    return reader.read(spark, path)


def _check_merge_source(
    source: DataFrame, on: list[str], check_unique: bool
) -> None:
    """MERGE source guards shared by every merge verb: the join keys
    exist, and (``check_unique``) no key repeats — a duplicated source
    key would multiply matched target rows (Delta raises the same).  One
    aggregation over the (small) source, run once per statement, never
    per retry: it reads only the source."""
    for k in on:
        if k not in source.columns:
            raise ValueError(f"merge key {k!r} missing from source")
    if not check_unique:
        return
    dup = source.groupBy(*on).count().where(F.col("count") > 1).limit(1)
    if dup.count():
        raise ValueError(
            "MERGE source has duplicate join keys; each target row "
            "must match at most one source row (pass "
            "check_unique=False only if uniqueness is guaranteed "
            "upstream)"
        )


def _merge_stage(
    spark: SparkSession,
    path: str,
    created: list[str],
    source: DataFrame,
    on: list[str],
    matched_set: dict[str, str | Column] | None,
    insert_values: dict[str, str | Column] | None,
    matched_delete: str | Column | None,
    insert_condition: str | Column | None,
    max_pruned_files: int | None,
    evolve_schema: bool,
    isolation: str,
):
    """The copy-on-write MERGE writer, as a :func:`~.commit.run` stage:
    prune, and STAGE everything — matched rewrites and insert files —
    without touching a single original file.  Publish moves the
    rewrites and the inserts in as one pooled move.

    Validation (optimistic mode) follows ``isolation``: ``serializable``
    requires the table's file list to be exactly what the read saw (a
    MERGE's insert decision reads every file's keys);
    ``write_serializable`` only requires the files this merge rewrites
    to still exist (see :func:`merge_into`).

    ``evolve_schema``: source columns absent from the target JOIN the
    table schema — written into insert files and rewritten matched files
    (matched rows take the source value, other rows NULL), while
    untouched files simply lack them (read the table via
    :func:`read_table`, which NULL-backfills).  A source column whose
    type safely WIDENS the target's (tinyint→…→bigint, float→double)
    widens the table — that one genuinely rewrites every file (parquet
    schema merging refuses conflicting physical types, so a
    metadata-only widening would poison reads).  Any other type mismatch
    is refused loudly rather than silently cast.
    """

    # the merged footer schema: a previously-evolved table's newest
    # columns live only in its newest files
    partitioned = is_partitioned(spark, path)
    listing = reader.list_files(spark, path, recursive=partitioned)
    files = [f.path for f in listing]
    target = reader.read(spark, path, listing)
    part_cols: list[str] = []
    if partitioned:
        part_cols = _partition_cols(path, files[0])
    # schema-evolution plan: columns the source ADDS, columns it WIDENS
    new_fields: list[tuple[str, object]] = []
    widen: dict[str, object] = {}
    if evolve_schema:
        tgt_types = {f.name: f.dataType for f in target.schema.fields}
        for f in source.schema.fields:
            if f.name not in tgt_types:
                new_fields.append((f.name, f.dataType))
                continue
            t_s = tgt_types[f.name].simpleString()
            s_s = f.dataType.simpleString()
            if t_s == s_s:
                continue
            t_rank = _WIDEN_RANK.get(t_s)
            s_rank = _WIDEN_RANK.get(s_s)
            if t_rank and s_rank and t_rank[0] == s_rank[0]:
                if s_rank[1] > t_rank[1]:
                    if f.name in part_cols:
                        raise ValueError(
                            f"evolve_schema cannot widen partition column "
                            f"{f.name!r} (its values live in directory "
                            "names, not files)"
                        )
                    widen[f.name] = f.dataType
                # source narrower: the existing cast-to-target handles it
                continue
            raise ValueError(
                f"evolve_schema: source column {f.name!r} is {s_s} but the "
                f"target is {t_s} — only new nullable columns and safe "
                "widenings (tinyint→smallint→int→bigint, float→double) "
                "evolve; anything else needs an explicit migration"
            )
    evolved: list[tuple[str, object]] = [
        (c, widen.get(c, target.schema[c].dataType)) for c in target.columns
    ] + new_fields
    evolved_names = {n for n, _ in evolved}
    if matched_set:
        unknown = set(matched_set) - evolved_names
        if unknown:
            raise ValueError(
                f"MERGE matched_set on unknown columns: {sorted(unknown)}"
            )
        part_hit = [c for c in matched_set if c in part_cols]
        if part_hit:
            raise ValueError(
                f"MERGE matched_set on partition columns: {sorted(part_hit)}; "
                "changing a row's partition is a delete + insert"
            )
    if insert_values:
        unknown = set(insert_values) - evolved_names
        if unknown:
            raise ValueError(
                f"MERGE insert_values on unknown columns: {sorted(unknown)}"
            )
    src = source.select(
        *[F.col(c).alias(c if c in on else f"src_{c}") for c in source.columns]
    )
    has_matched_action = matched_set is not None or matched_delete is not None
    # prune: files containing at least one matched key.  The semijoin runs
    # key-vs-key — at scale AQE broadcasts the (deduplicated, small) key
    # side and the target never shuffles.  An insert-only merge (no
    # matched action) skips the prune AND the rewrite entirely — matched
    # rows are untouched by definition, so rewriting their files would be
    # pure write amplification.
    hit: list[str] = []
    if has_matched_action:
        hit_df = (
            target.select(*on, F.col("_metadata.file_path").alias("f"))
            .join(src.select(*on).distinct(), on=on, how="leftsemi")
            .select("f")
            .distinct()
        )
        if max_pruned_files is not None:
            hit_df = hit_df.limit(max_pruned_files + 1)
        hit_rows = hit_df.collect()
        if max_pruned_files is not None and len(hit_rows) > max_pruned_files:
            # prune list exceeds the metadata bound: full-table COW
            # rewrite (same result, no unbounded driver list)
            hit = list(files)
        else:
            hit = sorted(r["f"] for r in hit_rows)
    if widen:
        # a widened physical type must reach EVERY file: parquet schema
        # merging refuses int-vs-bigint conflicts, so this is the one
        # evolution that is honestly a full rewrite
        hit = list(files)

    # inserts: source keys with no target partner (keys stay distributed —
    # never collected).  STAGE the insert rows FIRST, while every target
    # file this plan reads still exists; the commit phase's matched-file
    # swap deletes files out from under any not-yet-evaluated plan.
    unmatched = src.join(target.select(*on).distinct(), on=on, how="left_anti")
    if insert_condition is not None:
        unmatched = unmatched.where(_cond(insert_condition))
    iv = insert_values or {}
    ins_cols = []
    for c, dt in evolved:
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
    # inserted rows land in their key=value directories; an all-matched
    # merge stages nothing worth moving
    ins_staging = _stage(spark, path, ins_df, created, part_cols)
    rows_inserted = _staged_rows(spark, ins_staging)
    if not rows_inserted:
        _reclaim(spark, [ins_staging])
    rows_matched = 0
    staged: list[tuple[str, list[str], str]] = []
    if hit:
        def rewrite(sub: DataFrame):
            marked = src.withColumn("__matched", F.lit(True))
            joined = sub.join(marked, on=on, how="left")
            is_match = F.coalesce(F.col("__matched"), F.lit(False))
            # matched-count rides the staging write as an observed
            # metric (one job per file group, not count + write)
            obs = Observation()
            joined = joined.observe(
                obs, F.count(F.when(is_match, F.lit(1))).alias("m")
            )
            if matched_delete is not None:
                joined = joined.where(
                    ~(
                        is_match
                        & F.coalesce(_cond(matched_delete), F.lit(False))
                    )
                )
            ms = matched_set or {}
            projected = [
                F.when(is_match, _cond(ms[c]))
                .otherwise(F.col(c))
                .cast(widen.get(c, sub.schema[c].dataType))
                .alias(c)
                if c in ms
                else F.col(c).cast(
                    widen.get(c, sub.schema[c].dataType)
                ).alias(c)
                for c in sub.columns
            ]
            # evolution: columns this FILE GROUP lacks join its
            # rewritten files — both brand-new source columns AND
            # columns an EARLIER evolution added to other files only
            # (review finding: projecting just sub.columns silently
            # dropped a matched_set update on a column every hit file
            # in this group predates — a lost update).  Matched rows
            # take the matched_set expression or the source value;
            # everything else NULL-backfills.
            sub_cols = set(sub.columns)
            gap_fields = list(new_fields) + [
                (n, dt)
                for n, dt in evolved
                if n not in sub_cols
                and all(n != m for m, _ in new_fields)
            ]
            for name, dt in gap_fields:
                if name in ms:
                    e = F.when(is_match, _cond(ms[name])).otherwise(
                        F.lit(None)
                    )
                elif f"src_{name}" in joined.columns:
                    e = F.when(is_match, F.col(f"src_{name}")).otherwise(
                        F.lit(None)
                    )
                else:
                    e = F.lit(None)
                projected.append(e.cast(dt).alias(name))
            return joined.select(*projected), lambda: obs.get["m"]

        # STAGE every partition's rewrite before touching any
        # original: ``src`` is caller-supplied and may read from this
        # very table (self-referential merge), and Spark re-evaluates
        # its plan per staging job — deleting partition A's files
        # before staging partition B would hand that plan a mid-swap
        # hole (FileNotFoundException at best, silent reads of
        # swapped-in data at worst).
        staged, matched = _stage_rewrites(
            spark, path, hit, part_cols, rewrite, created, listing
        )
        # a widening-only rewrite (no matched clause) touches every
        # file but ACTS on no row — report 0 matched, not key hits
        rows_matched = matched if has_matched_action else 0

    def validate() -> str | None:
        current = {
            _uri_path(f)
            for f in list_data_files(spark, path, recursive=partitioned)
        }
        before = {_uri_path(f) for f in files}
        if isolation == "serializable":
            diff = sorted(current ^ before)
            return f"table file list changed: {diff[:3]}" if diff else None
        # write_serializable: only the files THIS merge rewrites are
        # commit-blocking — a concurrent commit that removed one means
        # the staged rewrite would clobber/resurrect its rows; anything
        # else is the documented anomaly
        clash = sorted((before - current) & {_uri_path(f) for f in hit})
        return f"rewritten files replaced: {clash[:3]}" if clash else None

    # the inserts move in with the rewrites, in the same one move
    entries = staged + ([(path, [], ins_staging)] if rows_inserted else [])
    return Staged(
        MutationStats(len(files), len(hit), rows_matched, rows_inserted),
        publish=lambda retain: _swap_staged(spark, path, entries, retain),
        validate=validate,
        check=[s for _, _, s in staged]
        + ([ins_staging] if rows_inserted else []),
        rewrites=True,
    )


def merge_into(
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
    max_pruned_files: int | None = 100_000,
    evolve_schema: bool = False,
    isolation: str = "serializable",
    *,
    optimistic: bool = False,
    max_attempts: int = 5,
    lock_wait_seconds: float | None = None,
    _after_stage=None,
) -> MutationStats:
    """``MERGE INTO <path> USING source ON keys`` — upsert, copy-on-write.

    - WHEN MATCHED AND ``matched_delete`` (evaluated over the joined row;
      source columns as ``src_<name>``): drop the target row — the CDC
      tombstone path.
    - WHEN MATCHED (otherwise): apply ``matched_set`` (same ``src_<name>``
      scope; target columns are in scope too, so conditional updates like
      ``CASE WHEN src_ts >= ts THEN src_v ELSE v END`` express
      last-writer-wins); only files containing a matched key are rewritten
      (key-semijoin prune).
    - WHEN NOT MATCHED AND ``insert_condition`` (default: all): insert a
      row built from ``insert_values`` (unlisted target columns default to
      the source column of the same name, else NULL).  Inserts APPEND new
      files — no existing file is touched for them.

    Works on flat AND hive-partitioned tables: matched files swap
    per-partition directory, inserts stage ``partitionBy`` the partition
    columns and land in their ``key=value`` dirs (created as needed);
    assigning a partition column in ``matched_set`` is refused — that is
    a cross-directory move (delete + insert), not an update.

    ``check_unique`` guards the classic silent-corruption mode: a source
    with duplicate keys would multiply matched target rows.  The guard is
    one aggregation over the (small) source; Delta raises the same error.

    ``max_pruned_files`` bounds the one driver-side metadata transfer the
    prune makes: the matched-file NAME list (what Delta keeps in its log —
    names, never rows).  A merge whose keys touch more files than the
    bound skips the per-file prune and rewrites the whole table instead —
    at that match breadth the prune saves little and its list would cost
    driver memory.  The limit+fallback means at most ``max_pruned_files+1``
    names ever cross the driver.

    ``evolve_schema=True`` lets the source evolve the table: new nullable
    columns land in insert/rewritten files (older files NULL-backfill —
    read via :func:`read_table`), safe type widenings rewrite the table,
    anything else is refused loudly.  See :func:`_merge_stage`.

    ``optimistic=True`` stages outside the writer lock with
    validate-and-swap inside it (the commit keywords are
    :func:`delete_where`'s) — the workload the CDC upsert writer
    (streaming/upsert.py) generates when several micro-batch writers
    land on one table.  ``isolation='serializable'`` (default) is
    stricter than the point verbs': a MERGE's read set is the WHOLE
    table (the NOT-MATCHED anti-join reads every file's keys to decide
    what to insert), so the commit requires the table's file list to be
    exactly what the read saw; ANY concurrent commit — even on disjoint
    keys — loses the race and re-derives the matched/unmatched split.
    ``isolation='write_serializable'`` (Delta's default level) validates
    only the files this merge rewrites, so disjoint-key concurrent
    merges commit without restaging.  Its documented anomaly is Delta's:
    a concurrent commit that inserted one of this merge's unmatched
    source keys yields a duplicate insert, and rows a concurrent commit
    rewrote keep this merge's view for the matched leg — use the default
    when key ranges can overlap.  A locked merge is single-writer, so
    any other level than the default is refused there.
    """

    if isolation not in ("serializable", "write_serializable"):
        raise ValueError(
            f"isolation must be 'serializable' or 'write_serializable', "
            f"got {isolation!r}"
        )
    if isolation != "serializable" and not optimistic:
        # silently ignoring a requested isolation level would let a
        # caller believe they relaxed validation they never opted into
        raise ValueError(
            f"isolation={isolation!r} only applies to optimistic=True; "
            "a locked merge is single-writer"
        )
    _check_merge_source(source, on, check_unique)

    def stage(created: list[str], _: bool):
        return _merge_stage(
            spark, path, created, source, on, matched_set, insert_values,
            matched_delete, insert_condition, max_pruned_files,
            evolve_schema, isolation,
        )

    return run(
        spark, path, stage, retain=retain, what="MERGE",
        optimistic=optimistic, max_attempts=max_attempts,
        lock_wait_seconds=lock_wait_seconds, _after_stage=_after_stage,
    )


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_ratio: float = 0.5,
    retain: bool | None = None,
    zorder: list[str] | None = None,
    sort_by: list[str] | None = None,
    zorder_bits: int = 12,
) -> MutationStats:
    """Bin-pack small files into ~``target_bytes`` files (OPTIMIZE-style
    compaction, the companion every COW table needs).

    Repeated point DML and streaming appends accrete small files; at scale
    the resulting per-file open/footer overhead dominates scan cost (the
    classic small-file problem).  Compaction here touches ONLY files below
    ``small_ratio * target_bytes`` — already-right-sized files are never
    read or rewritten — and coalesces them WITHOUT a shuffle
    (``coalesce``, not ``repartition``: compaction moves bytes, it has no
    need to redistribute them).  Same stage-then-swap discipline as the
    DML verbs.  Hive-partitioned tables compact per ``key=value``
    directory (compaction is file-local; partition values never move).

    ``zorder=[cols]`` / ``sort_by=[cols]`` turn compaction into OPTIMIZE
    ZORDER BY (Morton-interleaved multi-dimension clustering via
    ``sources.writers.zorder_key``) / a single-dimension range recluster:
    the scope widens to ALL files (clustering is a property of the whole
    table — or of each partition directory, which reclusters
    independently), and the rewrite is ``repartitionByRange + sort`` —
    deliberately a SHUFFLE, because reclustering IS data movement; DML
    accretion destroys clustering and this is the verb that restores the
    footer-skipping layout.  Partition columns cannot be recluster keys
    (their values live in directory names, and each directory already
    clusters them perfectly).

    ``rows_matched`` in the returned stats is the row count that moved.
    It commits through the locked DML commit loop (:func:`~.commit.run`)
    as a layout-only change: the file-listing epoch advances, the
    ANALYZE-stats epoch does not.
    """

    if target_bytes <= 0 or not (0 < small_ratio <= 1):
        raise ValueError("target_bytes must be > 0 and 0 < small_ratio <= 1")
    if zorder and sort_by:
        raise ValueError("zorder and sort_by are mutually exclusive")
    recluster = list(zorder or sort_by or [])

    def _recluster_df(df: DataFrame, n_out: int) -> DataFrame:
        bad = [c for c in recluster if c not in df.columns]
        if bad:
            raise ValueError(
                f"recluster columns {bad} not in the data files "
                f"({df.columns}) — partition columns cannot recluster"
            )
        if zorder:
            # zorder_key ranks via a double cast: a string column casts
            # to all-NULL → constant rank 0 → repartitionByRange collapses
            # the whole table into ONE file.  Refuse loudly; range
            # reclustering (sort_by) orders strings natively.
            types = dict(df.dtypes)
            non_num = [
                c
                for c in zorder
                if types[c]
                not in (
                    "tinyint", "smallint", "int", "bigint",
                    "float", "double", "date", "timestamp",
                )
                and not types[c].startswith("decimal")
            ]
            if non_num:
                raise ValueError(
                    f"zorder needs numeric/date/timestamp columns; "
                    f"{[(c, types[c]) for c in non_num]} would rank "
                    "constant and collapse the layout — use sort_by for "
                    "string keys"
                )
            key = zorder_key(df, list(zorder), zorder_bits)
            return df.repartitionByRange(n_out, key).sortWithinPartitions(
                key
            )
        return df.repartitionByRange(
            n_out, *recluster
        ).sortWithinPartitions(*recluster)

    def stage_one(item, created: list[str]):
        part_dir, small_p = item
        small_bytes = sum(f.length for f in small_p)
        n_out = int(max(1, -(-small_bytes // target_bytes)))
        # one merged schema for the group: files from before and after an
        # evolve_schema MERGE compact together without losing a column
        df = reader.read_files(spark, small_p)
        moved = reader.row_count(spark, small_p)
        out = _recluster_df(df, n_out) if recluster else df.coalesce(n_out)
        staging = _stage(spark, path, out, created)
        return part_dir, [f.path for f in small_p], staging, moved

    def stage(created: list[str], optimistic: bool) -> Staged:
        # resolved first, in-lock: refuses a live-DV table before any work
        keep = _default_retain(spark, path, retain)
        # per-partition bin-pack: compaction is file-local, so each
        # key=value directory compacts independently (the partition value
        # lives in the directory name and never moves); a flat table is
        # one group
        partitioned = is_partitioned(spark, path)
        all_files = reader.list_files(spark, path, recursive=partitioned)
        groups = (
            sorted(_group_by_dir(all_files).items())
            if partitioned
            else [(path, all_files)]
        )
        # size filter first (pure metadata: the listing's lengths): only
        # groups with >= 2 small files reach the staging pool
        todo: list[tuple[str, list[Listed]]] = []
        for part_dir, pfiles in groups:
            small_p = [
                f
                for f in pfiles
                if recluster or f.length < target_bytes * small_ratio
            ]
            if len(small_p) >= (1 if recluster else 2):
                todo.append((part_dir, small_p))
        if not todo:
            return Staged(MutationStats(len(all_files), 0, 0))
        # same stage-all-then-swap discipline as the DML verbs: pooled
        # staging jobs, then one pooled move
        results = _run_partition_stages(spark, path, todo, stage_one, created)
        staged = [(d, p, s) for d, p, s, _ in results]
        return Staged(
            MutationStats(
                len(all_files),
                sum(len(p) for _, p, _ in staged),
                sum(m for *_, m in results),
            ),
            publish=lambda _: _swap_staged(spark, path, staged, keep),
            layout_only=True,
        )

    return run(spark, path, stage, what="compact")


# -- crash recovery -----------------------------------------------------------


@dataclass(frozen=True)
class RepairReport:
    """What :func:`repair_table` found (and, with ``remove=True``, cleaned)."""

    staging_dirs: tuple[str, ...]
    stale_lock: str | None
    removed: bool

    def render(self) -> str:
        lines = []
        if self.staging_dirs:
            lines.append(
                f"{len(self.staging_dirs)} orphaned staging dir(s): "
                + ", ".join(self.staging_dirs)
            )
        if self.stale_lock:
            lines.append(f"writer lock present: {self.stale_lock}")
        if not lines:
            return "clean: no staging dirs, no lock"
        lines.append("removed" if self.removed else "report only (remove=False)")
        return "\n".join(lines)


def repair_table(
    spark: SparkSession,
    path: str,
    remove: bool = False,
    min_age_seconds: float = 0.0,
) -> RepairReport:
    """Post-crash inventory of COW debris: sibling ``<table>__cow_*``
    staging directories and the advisory ``_cow.lock``.

    What the debris means depends on HOW the writer stopped, and this
    tool cannot tell.  A failure before the publish, or a rename that
    failed during it (the publish's one move renames back whatever it
    already moved before raising), leaves a staging dir whose data is
    not in the table: the table reads as before the statement, and
    removing the dir just reclaims space — unless an undo rename failed
    too, which the raised error reports by name.  Only a publish stopped
    partway — a process that DIED after some of the move's renames, or
    a failed delete of the replaced files after the move — can leave
    duplicate rows (old + new files coexisting) or a partially-applied
    insert, and removing the staging remnant then makes the partial
    state permanent.  Before ``remove=True``, verify
    the table (row counts vs expectation, or ``read_version`` against
    the last committed manifest on a version-enabled table, which pins
    the pre-crash file list exactly) and re-run or repair the mutation
    first.

    ``remove=True`` deletes both kinds of debris.  ONLY run removal after
    confirming no writer is alive — a healthy in-flight mutation
    legitimately owns a staging dir and the lock; this tool cannot tell a
    crash from a slow writer, which is exactly why removal is not
    automatic.  "No writer is alive" is NOT implied by the lock being
    absent: OPTIMISTIC writers (``optimistic=True``, COW and DV alike)
    stage their ``__cow_*`` dirs while holding NO lock by design, so an
    unlocked table can still have a live writer mid-stage.  Pass
    ``min_age_seconds`` (e.g. a few hours) to treat only staging dirs whose
    modification time is older than the threshold as crash debris — a live
    optimistic writer's staging is always younger than its attempt.
    """
    _, fs, jpath = _fs(spark, path)
    parent = jpath.getParent()
    base = jpath.getName()
    cutoff_ms = (time.time() - min_age_seconds) * 1000.0
    staging = []
    for st in fs.listStatus(parent):
        n = st.getPath().getName()
        if (
            st.isDirectory()
            and n.startswith(base + "__cow_")
            and st.getModificationTime() <= cutoff_ms
        ):
            staging.append(st.getPath().toString())
    lock = _hpath(spark, jpath, LOCK_FILE)
    stale = lock.toString() if fs.exists(lock) else None
    if remove:
        _delete_files(spark, staging + [stale], recursive=True)
    return RepairReport(tuple(sorted(staging)), stale, remove)
