"""File-level bloom-filter index: data skipping for point lookups on
columns the table is NOT clustered by.

Footer min/max skipping (sources/writers.py range-clustered and z-order
layouts) only prunes on the sort dimensions.  A point lookup on any other
high-cardinality column — ``WHERE order_id = X`` on a date-partitioned
table — reads every file at 100 TB.  The classic lakehouse answer (the
reference's index-selection analog is cost-model-only,
engine/src/cost_estimator.cpp; Delta ships this as its bloom filter
index) is a per-file bloom filter sidecar: O(bits) per file, probed
BEFORE the scan, so a point lookup reads only the files whose filter
admits the value.

Design — everything heavy stays JVM-side and distributed:

- **Build** (:func:`build_bloom_index`): one linear pass.  Each row's
  value hashes to ``num_hashes`` bit positions via ``xxhash64(col, seed)
  % num_bits`` (JVM whole-stage codegen, no Python in the row path);
  positions aggregate per file with ``collect_set`` (bounded by
  ``num_bits``, not rows); one Arrow-batched pandas UDF packs each
  file's position set into a ``num_bits/8``-byte bitset.  The sidecar
  lands under ``<table>/_index/<col>/`` (underscore ⇒ invisible to base
  scans) with a JSON meta recording the hash parameters.
- **Probe** (:func:`probe_files`): the literal's positions are computed
  by the SAME JVM expression (one metadata-row job — never a Python
  reimplementation of the hash, which could silently diverge), then one
  tiny scan of the index rows tests those bits and returns candidate
  file names.  Cost is O(files) index rows, not O(data).
- **Read** (:func:`read_point_lookup`): scan ONLY candidate files plus
  the residual predicate.  **Correct under COW DML without
  invalidation**: rewrites produce fresh file names, so any live file
  the index doesn't know is treated as always-candidate, and index rows
  for replaced names match nothing.  A bloom has no false negatives, so
  the result equals the full-scan filter exactly.
"""

from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import values_df
from . import reader
from .mor import _live, _read_dv, _with_identity
from .mutate import is_partitioned, list_data_files
from .reader import Listed, _fs
from .storage import (
    _delete_files,
    _read_small_file,
    _rel_to_table,
    _write_small_file,
)

INDEX_DIR = "_index"


def _index_root(path: str, col: str) -> str:
    return f"{path.rstrip('/')}/{INDEX_DIR}/{col}"


def _positions(col_expr, num_hashes: int, num_bits: int):
    """The k bit positions of a value — one JVM expression shared verbatim
    by build and probe (seeded by hashing the value with the seed
    literal; ``pmod`` keeps positions non-negative)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col_expr, F.lit(i)), F.lit(num_bits)).cast(
                "long"
            )
            for i in range(num_hashes)
        ]
    )


def build_bloom_index(
    spark: SparkSession,
    path: str,
    col: str,
    num_bits: int | None = 1 << 20,
    num_hashes: int = 5,
    fpp: float = 0.01,
) -> int:
    """Build (or rebuild) the bloom sidecar for ``col``; returns how many
    files were indexed.  ``num_bits`` is the per-file filter size (2^20
    bits = 128 KB packed; size for bits ≈ 10× the distinct values per
    file for ~1% false-positive rate).  ``num_bits=None`` sizes it from
    the data: one approx-distinct-per-file probe (HLL, footer-pruned to
    ``col``) feeds :func:`estimate_bits` at ``fpp``, sized to the LARGEST
    file so skipping quality holds across skew.  NULLs are not indexed —
    SQL equality never matches NULL, and the probe path keeps that
    contract by refusing null probe values."""
    files = reader.list_files(spark, path, recursive=True)
    if not files:
        return 0
    df = reader.read_files(spark, files)
    if col not in df.columns:
        raise ValueError(f"no column {col!r} in {path}")
    if num_bits is None:
        worst = (
            df.where(F.col(col).isNotNull())
            .groupBy(F.col("_metadata.file_path"))
            .agg(F.approx_count_distinct(col).alias("nd"))
            .agg(F.max("nd").alias("mx"))
            .first()["mx"]
        )
        # HLL underestimates up to ~5%; pad before sizing
        num_bits = estimate_bits(int((worst or 1) * 1.1), fpp)
    if num_bits <= 0 or num_bits % 64:
        raise ValueError("num_bits must be a positive multiple of 64")
    index_df = _index_rows(spark, path, files, col, num_bits, num_hashes)
    root = _index_root(path, col)
    index_df.write.mode("overwrite").parquet(root)
    meta = json.dumps(
        {
            "col": col,
            "num_bits": num_bits,
            "num_hashes": num_hashes,
            # xxhash64 is TYPE-sensitive (an int literal and a bigint
            # column hash differently); the probe must cast its literal
            # to exactly the type that was hashed at build time
            "col_type": df.schema[col].dataType.simpleString(),
        }
    )
    _write_small_file(spark, f"{root}/_meta.json", meta.encode())
    # _index_rows emits exactly one row per file (all-NULL files get a
    # zero bitset), so no read-back count job is needed
    return len(files)


def _index_rows(
    spark: SparkSession,
    path: str,
    files: list[Listed],
    col: str,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """One (src_file, bloom) row per file in ``files`` — the shared build
    pipeline: JVM-side position hashing, collect_set bounded by
    ``num_bits``, Arrow-batched bitset packing."""
    df = reader.read_files(spark, files)
    root_len = len(
        _fs(spark, path)[1]
        .makeQualified(_fs(spark, path)[2])
        .toString()
    )
    per_file = (
        df.select(
            F.expr(f"substring(_metadata.file_path, {root_len + 2})").alias(
                "src_file"
            ),
            F.explode(_positions(F.col(col), num_hashes, num_bits)).alias(
                "pos"
            ),
        )
        .where(F.col(col).isNotNull())
        .groupBy("src_file")
        .agg(F.collect_set("pos").alias("positions"))
    )
    nbytes = num_bits // 8

    @pandas_udf("binary")
    def pack(positions: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for pos in positions:
            bits = np.zeros(nbytes, dtype=np.uint8)
            p = np.asarray(pos, dtype=np.int64)
            np.bitwise_or.at(
                bits, p >> 3, np.uint8(1) << (p & 7).astype(np.uint8)
            )
            out.append(bits.tobytes())
        return pd.Series(out)

    packed = per_file.select(
        "src_file", pack(F.col("positions")).alias("bloom")
    )
    # a file whose column is entirely NULL produces no position group;
    # it still needs an (all-zero) index row, else refresh counts it as
    # "new" forever and the probe treats it as an always-candidate
    all_rels = values_df(
        spark,
        "src_file string",
        [(_rel_to_table(path, f.path),) for f in files],
    )
    return all_rels.join(packed, "src_file", "left").select(
        "src_file",
        F.coalesce(F.col("bloom"), F.lit(bytes(nbytes))).alias("bloom"),
    )


def refresh_bloom_index(spark: SparkSession, path: str, col: str) -> int:
    """Incrementally index the live files the sidecar has no row for —
    the cheap maintenance pass after COW DML/compaction rewrote part of
    the table (those files were correct-but-unskippable as
    always-candidates).  Appends with the ORIGINAL build parameters;
    rows for replaced file names stay behind but are inert (they match
    no live file) and disappear on the next full rebuild.  Returns how
    many files were newly indexed — O(new files) data read, never
    O(table)."""
    meta = _index_meta(spark, path, col)
    files = reader.list_files(spark, path, recursive=True)
    idx_root = _index_root(path, col)
    indexed = {
        r["src_file"]
        for r in spark.read.parquet(idx_root).select("src_file").collect()
    }
    missing = [
        f for f in files if _rel_to_table(path, f.path) not in indexed
    ]
    if not missing:
        return 0
    # xxhash64 is TYPE-sensitive: if a schema evolution widened the
    # column (e.g. int → bigint via an evolve_schema MERGE, which
    # rewrites every touched file), hashing the new files under the
    # widened type while _probe still casts its literal to the stored
    # col_type would silently FALSE-NEGATIVE — breaking the bloom
    # contract.  A widening rewrites the files it touches, so the
    # mismatch surfaces exactly here; recover with a full rebuild under
    # the merged (widened) type, which also refreshes the stored meta.
    new_type = reader.schema(spark, missing)[col].dataType.simpleString()
    if new_type != meta["col_type"]:
        return build_bloom_index(
            spark,
            path,
            col,
            num_bits=meta["num_bits"],
            num_hashes=meta["num_hashes"],
        )
    _index_rows(
        spark, path, missing, col, meta["num_bits"], meta["num_hashes"]
    ).write.mode("append").parquet(idx_root)
    return len(missing)


def refresh_all_bloom_indexes(spark: SparkSession, path: str) -> dict[str, int]:
    """Refresh every bloom sidecar under ``<table>/_index/`` — the
    post-DML maintenance hook (operators/commit._refresh_indexes calls
    this after each committed mutation unless
    ``spark.sqlopt.autoRefreshIndexes`` is false).  Returns
    ``{column: files newly indexed}``; O(new files) per index, a single
    cheap directory listing when the table has no indexes at all."""
    return {
        col: refresh_bloom_index(spark, path, col)
        for col in list_bloom_indexes(spark, path)
    }


def drop_bloom_index(spark: SparkSession, path: str, col: str) -> bool:
    """Remove ``col``'s bloom sidecar; returns whether one existed.  Pure
    metadata — the index is derived state, always rebuildable."""
    jvm, fs, _ = _fs(spark, path)
    root = _index_root(path, col)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(root)):
        return False
    _delete_files(spark, [root], recursive=True)
    return True


def list_bloom_indexes(spark: SparkSession, path: str) -> list[str]:
    """Columns with a bloom sidecar under ``<table>/_index/``."""
    jvm, fs, _ = _fs(spark, path)
    root = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{INDEX_DIR}")
    if not fs.exists(root):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isDirectory()
        and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_meta.json")
        )
    )


def has_bloom_index(spark: SparkSession, path: str, col: str) -> bool:
    jvm, fs, _ = _fs(spark, path)
    return fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{_index_root(path, col)}/_meta.json")
    )


def _index_meta(spark: SparkSession, path: str, col: str) -> dict:
    return json.loads(
        _read_small_file(
            spark, f"{_index_root(path, col)}/_meta.json"
        ).decode()
    )


def _probe(
    spark: SparkSession, path: str, col: str, values: list
) -> list[str]:
    """Candidate files (absolute paths) that may contain ``col IN
    (values)``: indexed files whose bloom admits ANY of the values, plus
    every live file the index has no row for (always-candidate keeps
    rewrites correct with no invalidation hook).  No false negatives by
    construction.  One JVM job computes every literal's positions, and
    ONE pass over the index rows yields both the admitted and the
    indexed sets."""
    vals = [v for v in values if v is not None]
    if not vals:
        # SQL equality/IN with NULL matches nothing; no file qualifies
        return []
    meta = _index_meta(spark, path, col)
    files = list_data_files(spark, path, recursive=True)
    by_rel = {_rel_to_table(path, f): f for f in files}
    # the literals' positions via the SAME JVM hash expression as build
    try:
        lits = values_df(spark, f"v {meta['col_type']}", [(v,) for v in vals])
    except TypeError:  # col types outside the VALUES subset keep the
        lits = spark.createDataFrame(  # Python-RDD path (rare, tiny)
            [(v,) for v in vals], f"v {meta['col_type']}"
        )
    pos_lists = [
        r["p"]
        for r in lits.select(
            _positions(
                F.col("v"), meta["num_hashes"], meta["num_bits"]
            ).alias("p")
        )
        .collect()
    ]

    @pandas_udf("boolean")
    def admits_any(bloom: pd.Series) -> pd.Series:
        import numpy as np

        def test(b: bytes) -> bool:
            a = np.frombuffer(b, dtype=np.uint8)
            return any(
                all(a[p >> 3] & (1 << (p & 7)) for p in pos)
                for pos in pos_lists
            )

        return bloom.map(test)

    rows = (
        spark.read.parquet(_index_root(path, col))
        .select("src_file", admits_any(F.col("bloom")).alias("ok"))
        .collect()
    )
    indexed = {r["src_file"] for r in rows}
    admitted = {r["src_file"] for r in rows if r["ok"]}
    return sorted(
        f
        for rel, f in by_rel.items()
        if rel in admitted or rel not in indexed
    )


def probe_files(
    spark: SparkSession, path: str, col: str, value
) -> list[str]:
    """Single-value :func:`_probe` (see there for the guarantees)."""
    return _probe(spark, path, col, [value])


def _read_candidates(
    spark: SparkSession, path: str, candidates: list[str], residual
) -> DataFrame:
    """Read only ``candidates`` with the residual predicate — and apply
    live deletion vectors when the table carries them, so the index read
    path composes with merge-on-read DML instead of resurrecting
    MOR-deleted rows (same contract as read_mor)."""
    listing = reader.list_files(spark, path, recursive=True)
    if not candidates:
        return reader.read(spark, path, listing).where(F.lit(False))
    base_path = path if is_partitioned(spark, path) else None
    listed = {f.path: f for f in listing}
    files = [listed.get(c) or Listed(c, -1, -1) for c in candidates]
    dv = _read_dv(spark, path)
    if dv is None:
        return reader.read_files(spark, files, base_path).where(residual)
    df = _with_identity(spark, path, files, base_path)
    return (
        _live(df.where(residual), dv).drop("__src_file", "__row_idx")
    )


def read_point_lookup(
    spark: SparkSession, path: str, col: str, value
) -> DataFrame:
    """``SELECT * FROM <path> WHERE col = value`` reading only the files
    the bloom index admits (plus unindexed ones).  Exactly equal to the
    full-scan filter: blooms have no false negatives, the residual
    predicate removes false positives, NULL probes return empty, and
    deletion vectors (if any) are applied."""
    return _read_candidates(
        spark,
        path,
        _probe(spark, path, col, [value]),
        F.col(col) == F.lit(value) if value is not None else F.lit(False),
    )


def read_point_lookups(
    spark: SparkSession, path: str, col: str, values: list
) -> DataFrame:
    """``WHERE col IN (<values>)`` through the index with ONE probe pass
    and one read of the candidate union.  NULLs in ``values`` are
    dropped (SQL IN never matches NULL); deletion vectors are applied."""
    vals = [v for v in values if v is not None]
    # plain literals keep the In filter parquet-pushable (a Column-typed
    # isin would block pushdown); Spark coerces them to the column type
    return _read_candidates(
        spark,
        path,
        _probe(spark, path, col, vals),
        F.col(col).isin(vals) if vals else F.lit(False),
    )


def index_stats(spark: SparkSession, path: str, col: str) -> dict:
    """Sidecar shape: files indexed, bytes, and the build parameters."""
    meta = _index_meta(spark, path, col)
    jvm, fs, _ = _fs(spark, path)
    root = jvm.org.apache.hadoop.fs.Path(_index_root(path, col))
    size = sum(
        st.getLen()
        for st in fs.listStatus(root)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )
    n = spark.read.parquet(_index_root(path, col)).count()
    return {**meta, "indexed_files": n, "sidecar_bytes": int(size)}


def estimate_bits(distinct_per_file: int, fpp: float = 0.01) -> int:
    """Classic bloom sizing: m = -n·ln(p)/ln(2)² rounded up to a multiple
    of 64 — a helper so callers size ``num_bits`` from ANALYZE stats."""
    m = -distinct_per_file * math.log(fpp) / (math.log(2) ** 2)
    return max(64, int(math.ceil(m / 64)) * 64)
