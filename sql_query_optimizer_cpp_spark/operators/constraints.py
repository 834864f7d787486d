"""Table CHECK constraints enforced on COW DML (split from mutate.py, r12)."""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from . import reader
from .reader import _fs
from .storage import _read_small_file, _write_small_file, _writer_lock

# -- table constraints (CHECK enforcement on COW DML) --------------------------
#
# Delta-style CHECK constraints for the mutate verbs; no reference analog
# (the reference parses DML and stops, engine/src/parser.cpp:232-296, and
# has no constraint surface at all).  Registered per table dir in an
# underscore-invisible JSON; every value-changing verb (UPDATE, MERGE, in
# either commit mode) verifies its STAGED output against all constraints in ONE
# column-pruned aggregate job BEFORE any original file moves — a violation
# aborts with the table untouched.  DELETE and compaction skip the check
# (they cannot introduce values).  Enforcement cost is O(touched files),
# the same files the mutation just wrote and the page cache still holds.

CONSTRAINTS_FILE = "_constraints.json"


class ConstraintViolation(ValueError):
    """Staged mutation output (or, at add time, the existing table)
    violates a registered CHECK constraint.  Raised before any swap —
    the table is unchanged."""


def _violation(expr: str) -> Column:
    # SQL-standard CHECK semantics: only FALSE violates; NULL passes
    return ~F.coalesce(F.expr(expr), F.lit(True))


def _constraints_doc(spark: SparkSession, path: str) -> dict:
    """The full constraints document: ``constraints`` (name → CHECK expr)
    plus ``columns`` (data-column name → DDL type snapshot taken at add
    time) — the snapshot lets enforcement NULL-backfill a column the
    staged files happen to lack (pre-evolution rewrites) without an
    O(table) schema merge per mutation."""
    _, fs, jpath = _fs(spark, f"{path.rstrip('/')}/{CONSTRAINTS_FILE}")
    if not fs.exists(jpath):
        return {"constraints": {}, "columns": {}}
    return json.loads(
        _read_small_file(
            spark, f"{path.rstrip('/')}/{CONSTRAINTS_FILE}"
        ).decode()
    )


def table_constraints(spark: SparkSession, path: str) -> dict[str, str]:
    """name → CHECK expression registered on a COW table dir."""
    return _constraints_doc(spark, path)["constraints"]


def _write_constraints(spark: SparkSession, path: str, doc: dict) -> None:
    _write_small_file(
        spark,
        f"{path.rstrip('/')}/{CONSTRAINTS_FILE}",
        json.dumps(doc, indent=0, sort_keys=True).encode(),
    )


def add_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    expr: str,
    validate: bool = True,
) -> None:
    """Register CHECK constraint ``name`` := ``expr`` on a COW table dir.

    ``validate=True`` (default) first proves the CURRENT table satisfies
    it (one column-pruned scan; refused otherwise — a constraint the data
    already breaks would make every later mutation unfixable).  The
    expression must resolve against DATA columns only — checked against
    the table's MERGED schema (so a column an evolve_schema MERGE added
    to only some files still qualifies) minus the partition columns,
    whose values live in directory names, not in the staged files
    enforcement reads.  The merged data-column schema is snapshotted into
    the constraints file so enforcement can NULL-backfill columns a
    staged rewrite of pre-evolution files legally lacks.  Runs under the
    writer lock; the OCC verbs additionally re-check constraints INSIDE
    their commit lock when the registered set changed since their
    lock-free enforcement pass.
    """
    if not re.fullmatch(r"\w+", name):
        raise ValueError(
            f"constraint name {name!r} must be a bare identifier"
        )
    with _writer_lock(spark, path):
        doc = _constraints_doc(spark, path)
        cons = doc["constraints"]
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists: {cons[name]!r} "
                "(drop_constraint first)"
            )
        # partition columns (key=value dirs between the root and a file)
        # are not data columns
        files = reader.list_files(spark, path, recursive=True)
        probe = reader.read(spark, path, files).drop(
            *(reader.partition_keys(path, files[0].path) if files else [])
        )
        try:
            probe.select(_violation(expr))
        except Exception as e:
            raise ValueError(
                f"constraint {name!r} ({expr!r}) must resolve against the "
                f"data columns {probe.columns} — partition columns "
                "live in directory names, not in the staged files "
                "enforcement reads"
            ) from e
        if validate:
            bad = probe.where(_violation(expr)).count()
            if bad:
                raise ConstraintViolation(
                    f"cannot add constraint {name!r}: {bad} existing rows "
                    f"violate {expr!r}"
                )
        cons[name] = expr
        doc["columns"] = {
            f.name: f.dataType.simpleString() for f in probe.schema.fields
        }
        _write_constraints(spark, path, doc)


def drop_constraint(spark: SparkSession, path: str, name: str) -> None:
    with _writer_lock(spark, path):
        doc = _constraints_doc(spark, path)
        if name not in doc["constraints"]:
            raise ValueError(
                f"no constraint {name!r} on {path} "
                f"(have: {sorted(doc['constraints'])})"
            )
        del doc["constraints"][name]
        _write_constraints(spark, path, doc)


def _enforce_constraints(
    spark: SparkSession, path: str, staging_dirs: list[str]
) -> dict[str, str]:
    """Verify every registered constraint over the union of the staged
    dirs — ONE aggregate job for all constraints, column-pruned to the
    referenced columns.  Raises :class:`ConstraintViolation` with
    per-constraint staged-row counts; callers reclaim their staging and
    leave the table untouched.  Returns the constraint set it checked so
    optimistic callers can detect a set that changed before their commit
    lock and re-check inside it.

    Columns the staged files lack entirely (a rewrite of pre-evolution
    files on an evolved table) NULL-backfill from the add-time schema
    snapshot — the staged data means NULL there, and SQL CHECK passes
    NULL, so a constraint on an evolved column never aborts a legitimate
    mutation of old files."""
    doc = _constraints_doc(spark, path)
    cons = doc["constraints"]
    if not cons or not staging_dirs:
        return cons
    frames = []
    for d in staging_dirs:
        files = reader.list_files(spark, d, recursive=True)
        # an all-delete/no-insert stage writes zero rows (just _SUCCESS)
        # — nothing to check in that dir
        if files:
            frames.append(reader.read(spark, d, files))
    if not frames:
        return cons
    df = frames[0]
    for fr in frames[1:]:
        df = df.unionByName(fr, allowMissingColumns=True)
    for col, ddl in doc.get("columns", {}).items():
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(ddl))
    row = df.agg(
        *[
            F.sum(F.when(_violation(e), 1).otherwise(0)).alias(n)
            for n, e in sorted(cons.items())
        ]
    ).first()
    violated = {n: row[n] for n in cons if row[n]}
    if violated:
        raise ConstraintViolation(
            f"mutation violates CHECK constraints on {path}: "
            + "; ".join(
                f"{n} ({cons[n]!r}): {c} staged rows"
                for n, c in sorted(violated.items())
            )
            + " — nothing was swapped; the table is unchanged"
        )
    return cons

