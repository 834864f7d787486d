"""Similarity search over embedding columns (array<float>).

Three search strategies over the ``embeddings`` fixture (64-dim unit-ish
vectors), all pure DataFrame compositions:

- brute-force cosine top-k: the exactness baseline — queries broadcast
  against the corpus, one window per query for the top-k;
- sign-LSH (random hyperplane, Charikar'02) bucketed ANN: vectors hash to a
  small bucket id from the signs of 4 pseudo-random hyperplane projections;
  search joins query->bucket only.  At 100 TB the bucket id becomes the
  shuffle/partition key and each probe touches 1/2^planes of the corpus;
- IVF-style nearest-centroid assignment: per-label mean centroids (the
  "coarse quantizer"), every vector assigned to its nearest centroid.

Determinism/portability: with ``exact=True`` (the default, used by every
oracle-graded inventory query) dot products are exact — per-element double
products (IEEE, portable) cast to DECIMAL(28,20) and summed (exact, order
independent), so Spark and the DuckDB oracle produce bit-identical cosines.
Hyperplane weights are md5-derived constants computed in Python and inlined
into both dialects.

The decimal trick costs ~2x over a plain double ``aggregate``, so every
search entry point also takes ``exact=False``: a plain-double sequential
sum — the production path at scale, where cross-engine bit-parity isn't a
requirement.  Values agree with the exact path after the 6-dp cosine
rounding on the fixtures (tested); only the dot product switches — bucket
assignment (sign decisions) stays exact so ANN probes identical buckets on
both paths.  The structure (broadcast queries, bucket blocking, no cross
joins beyond the query set) is the part that carries to 100 TB.
"""

from __future__ import annotations

import hashlib
import json
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import values_df
from . import reader
from .dedup import _spread
from .mor import _live, _read_dv, _with_identity, list_dv_files, read_mor
from .mutate import is_partitioned, list_data_files
from .storage import (
    _delete_files,
    _read_small_file,
    _rel_to_table,
    _write_small_file,
    _writer_lock,
    move,
)

DIM = 64
NUM_PLANES = 4


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def plane_weights(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1), md5-derived so
    both engines inline the identical literals."""
    return [
        [(_md5_int(f"plane{p}:{i}") % 2000) / 1000.0 - 1.0 for i in range(dim)]
        for p in range(num_planes)
    ]


def _elem(col: str, i: int, duck: bool) -> str:
    # both engines index lists/arrays 1-based via these forms
    return f"{col}[{i}]" if duck else f"element_at({col}, {i})"


def dot_expr(a: str, b: str, duck: bool, dim: int = DIM, exact: bool = True) -> str:
    """Dot product of two float-array columns as DOUBLE.

    ``exact=True`` (oracle path — see module docstring for why DECIMAL).
    Spark: ``aggregate`` HOF with the accumulator type pinned by an explicit
    CAST each step — a plain ``t1 + t2 + ...`` chain would hit Spark's
    decimal-precision cap after ~18 additions and silently shrink the scale
    to 6.  DuckDB: a literal term chain (its widening rules keep scale 20).

    ``exact=False`` (production path): plain sequential double sum, ~2x
    cheaper.  Graded ORACLES always use the exact path; the duck
    ``exact=False`` form exists ONLY so bench.py can time a like-for-like
    DuckDB baseline against the Spark production path (plain doubles on
    both sides — never used in a CORRECTNESS oracle, where plain-double
    term order would not be bit-portable).
    """
    if not exact:
        if duck:
            terms = " + ".join(
                f"CAST({_elem(a, i, duck)} AS DOUBLE) * CAST({_elem(b, i, duck)} AS DOUBLE)"
                for i in range(1, dim + 1)
            )
            return f"({terms})"
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    if duck:
        terms = " + ".join(
            f"CAST(CAST({_elem(a, i, duck)} AS DOUBLE) * CAST({_elem(b, i, duck)} AS DOUBLE)"
            f" AS DECIMAL(28,20))"
            for i in range(1, dim + 1)
        )
        return f"CAST(({terms}) AS DOUBLE)"
    return (
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,20))), "
        f"CAST(0 AS DECIMAL(38,20)), "
        f"(acc, v) -> CAST(acc + v AS DECIMAL(38,20))) AS DOUBLE)"
    )


def normsq_expr(a: str, duck: bool, dim: int = DIM, exact: bool = True) -> str:
    return dot_expr(a, a, duck, dim, exact)


def plane_dot_expr(col: str, weights: list[float], duck: bool) -> str:
    """Exact projection of an embedding onto a constant hyperplane."""
    if duck:
        terms = " + ".join(
            f"CAST(CAST({_elem(col, i + 1, duck)} AS DOUBLE) * ({w!r}) AS DECIMAL(28,20))"
            for i, w in enumerate(weights)
        )
        return f"CAST(({terms}) AS DOUBLE)"
    arr = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in weights)
    return (
        f"CAST(aggregate(zip_with({col}, array({arr}), (x, y) -> "
        f"CAST(CAST(x AS DOUBLE) * y AS DECIMAL(28,20))), "
        f"CAST(0 AS DECIMAL(38,20)), "
        f"(acc, v) -> CAST(acc + v AS DECIMAL(38,20))) AS DOUBLE)"
    )


def bucket_expr(col: str, duck: bool, num_planes: int = NUM_PLANES) -> str:
    """Sign-LSH bucket id in [0, 2^planes) as BIGINT."""
    planes = plane_weights(num_planes)
    bits = " + ".join(
        f"(CASE WHEN {plane_dot_expr(col, planes[p], duck)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    return f"CAST(({bits}) AS BIGINT)"


def with_norm(df: DataFrame, emb_col: str = "embedding", exact: bool = True) -> DataFrame:
    return df.withColumn("nsq", F.expr(normsq_expr(emb_col, duck=False, exact=exact)))


def brute_force_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """Exact cosine top-k: query set (id < n_queries) broadcast against the
    whole corpus; per-query window keeps the top k.

    Output: (query_id, neighbor_id, cos_sim, rn)."""
    # _spread (exact path only): the corpus-side decimal-exact dot
    # arithmetic runs map-side in the scan stage, and a one-split local
    # file would serialize it on one core; the plain-double production
    # path is scan-bound, where the repartition costs more than it saves
    base = df.select(id_col, emb_col)
    e = with_norm(_spread(base) if exact else base, exact=exact)
    q = e.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("dot", F.expr(dot_expr("q_emb", emb_col, duck=False, exact=exact)))
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "cos_sim", "rn"
        )
    )


def lsh_bucketed_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exact: bool = True,
    n_probes: int = 1,
) -> DataFrame:
    """ANN top-k probing the query's sign-LSH bucket (1/16th of the corpus
    on average) — the scale path: candidates come from an equi-join on
    bucket, not a cross join.

    ``n_probes`` > 1 enables multi-probe LSH: the query side is exploded
    to its own bucket plus the ``n_probes - 1`` buckets at Hamming
    distance 1 (one hyperplane bit flipped — the buckets a true neighbor
    most likely fell into instead).  Recall rises steeply for near
    neighbors at a linear candidate-cost factor (still a bucketed
    equi-join; probe buckets are distinct so no candidate duplicates).
    On the fixture's planted-twin test: ~0.75 recall single-probe vs
    ~0.95 at 5 probes (tests/test_operators.py).

    ``exact`` switches only the pair dot products; bucket assignment stays
    on the exact path so both modes probe identical buckets.

    Output: (query_id, neighbor_id, cos_sim, rn)."""
    base = df.select(id_col, emb_col)
    e = with_norm(_spread(base) if exact else base, exact=exact).withColumn(
        "bucket", F.expr(bucket_expr(emb_col, duck=False))
    )
    q = e.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
        F.col("bucket").alias("q_bucket"),
    )
    # single-bit probing covers at most the home bucket + NUM_PLANES
    # neighbors; a larger ask would silently probe fewer buckets than the
    # caller believes and recall measurements would mislead
    if n_probes > NUM_PLANES + 1:
        raise ValueError(
            f"n_probes={n_probes} exceeds the {NUM_PLANES + 1} buckets "
            "reachable by Hamming-1 probing (home + one per plane); "
            "extend to multi-bit probe masks for more"
        )
    if n_probes > 1:
        masks = [0] + [1 << j for j in range(NUM_PLANES)][: n_probes - 1]
        q = q.withColumn(
            "q_bucket",
            F.explode(
                F.array(
                    *[F.col("q_bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ),
        )
    pairs = (
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .withColumn("dot", F.expr(dot_expr("q_emb", emb_col, duck=False, exact=exact)))
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos_sim", "rn")
    )


def two_phase_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """EXACT top-k via two-phase (block-local then global) selection —
    same result set as :func:`brute_force_topk`, different selection plan.

    Phase 1 ranks candidates inside each (query, LSH-bucket) block and
    keeps k per block; phase 2 ranks only those ``buckets*k`` survivors
    globally.  Correct because a global top-k row is by definition inside
    its own block's top-k (scores are scored identically everywhere), so
    phase 1 never discards a final answer — the classic distributed top-k
    argument (TakeOrdered partial-then-merge, generalized to any blocking
    key).

    Why it matters at 100 TB: brute-force puts *all* N scored rows for a
    query through one window partition (single-reducer skew per query);
    here the big window is split into 2^planes independent partitions and
    the global pass sees only ``16*k`` rows per query.  Scoring cost is
    unchanged — this optimizes the selection shuffle, which is what
    actually breaks first when N grows.
    """
    base = df.select(id_col, emb_col)
    e = with_norm(_spread(base) if exact else base, exact=exact).withColumn(
        "bucket", F.expr(bucket_expr(emb_col, duck=False))
    )
    q = e.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("dot", F.expr(dot_expr("q_emb", emb_col, duck=False, exact=exact)))
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
        )
    )
    w_local = W.partitionBy("query_id", "bucket").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    survivors = pairs.withColumn("_lrn", F.row_number().over(w_local)).filter(
        F.col("_lrn") <= k
    )
    w_global = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rn", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos_sim", "rn")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on the sign-LSH bucket
    (exact precision, LSH recall).  Output: (vec_a, vec_b, cos_sim)."""
    base = df.select(id_col, emb_col)
    e = with_norm(_spread(base) if exact else base, exact=exact).withColumn(
        "bucket", F.expr(bucket_expr(emb_col, duck=False))
    )
    a = e.select(
        F.col(id_col).alias("vec_a"),
        F.col(emb_col).alias("emb_a"),
        F.col("nsq").alias("nsq_a"),
        F.col("bucket").alias("bucket_a"),
    )
    b = e.select(
        F.col(id_col).alias("vec_b"),
        F.col(emb_col).alias("emb_b"),
        F.col("nsq").alias("nsq_b"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(
            b,
            (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn("dot", F.expr(dot_expr("emb_a", "emb_b", duck=False, exact=exact)))
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("nsq_a") * F.sqrt("nsq_b")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def nearest_centroid(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style coarse quantizer: per-label mean centroids, then each
    vector assigned to its nearest centroid by cosine.

    Centroid components are exact decimal means; vector-centroid dots go
    through a posexplode + (pos,label) join — all built-in operators, one
    shuffle on (id, label).  Output: (vec_id, pred_label)."""
    comp = df.select(
        F.col(id_col), F.col(label_col), F.posexplode(emb_col).alias("pos", "x")
    ).withColumn("xd", F.col("x").cast("double"))

    centroids = comp.groupBy(label_col, "pos").agg(
        (
            F.sum(F.col("xd").cast("decimal(28,20)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    cnorm = centroids.groupBy(label_col).agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(28,20)")).cast("double").alias("c_nsq")
    )

    vec = comp.select(id_col, "pos", "xd")
    vnorm = vec.groupBy(id_col).agg(
        F.sum((F.col("xd") * F.col("xd")).cast("decimal(28,20)")).cast("double").alias("v_nsq")
    )

    dots = (
        vec.join(centroids.withColumnRenamed(label_col, "cand_label"), "pos")
        .groupBy(id_col, "cand_label")
        .agg(F.sum((F.col("xd") * F.col("c")).cast("decimal(28,20)")).cast("double").alias("dot"))
    )
    scored = (
        dots.join(vnorm, id_col)
        .join(cnorm.withColumnRenamed(label_col, "cand_label"), "cand_label")
        .withColumn("cos_sim", F.col("dot") / (F.sqrt("v_nsq") * F.sqrt("c_nsq")))
    )
    w = W.partitionBy(id_col).orderBy(F.col("cos_sim").desc(), F.col("cand_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("cand_label").cast("int").alias("pred_label"))
    )


def ivf_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    exact: bool = True,
) -> DataFrame:
    """IVF search (nprobe=1): coarse-quantize every vector to its nearest
    centroid (:func:`nearest_centroid`), then score a query only against
    its own posting list — the inverted-file analog of the LSH bucket
    probe, with data-adaptive cells instead of fixed hyperplanes.

    At 100 TB: the centroid set is tiny (broadcast), assignment is one
    scan + one (pos,label) shuffle, and each query's candidate set is one
    posting list (~N/num_cells).  Raising recall means probing the
    next-nearest centroids too — same pattern as multi-probe LSH.

    Output: (query_id, neighbor_id, cos_sim, rn)."""
    assign = nearest_centroid(df, id_col, emb_col, label_col)
    e = with_norm(df.select(id_col, emb_col), exact=exact).join(assign, id_col)
    q = e.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
        F.col("pred_label").alias("q_list"),
    )
    pairs = (
        e.join(
            F.broadcast(q),
            (F.col("pred_label") == F.col("q_list"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .withColumn("dot", F.expr(dot_expr("q_emb", emb_col, duck=False, exact=exact)))
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos_sim", "rn")
    )


# -- trained IVF quantizer (sample-based k-means) ---------------------------

IVF_CELLS = 10
IVF_ITERS = 2
IVF_SAMPLE_MOD = 3


def _comp(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """(id, pos, xd): one row per vector component, double-cast."""
    return df.select(
        F.col(id_col), F.posexplode(emb_col).alias("pos", "x")
    ).withColumn("xd", F.col("x").cast("double"))


def assign_cells(
    comp: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    top_p: int = 1,
) -> DataFrame:
    """Nearest-cell assignment of component-exploded vectors against a
    ``(cell, pos, c)`` codebook: decimal-exact dots, rank by
    ``dot / sqrt(|c|)`` (the vector's own norm is constant per id, so it
    cannot change the argmax), ties to the smallest cell.  One shuffle on
    (id, cell); the codebook is tiny (cells x dim) and broadcasts.
    ``top_p`` > 1 keeps the p nearest cells per id — the multi-probe
    query-side expansion (the INDEX side always assigns top_p=1).
    Output: (id, cell)."""
    cnorm = codebook.groupBy("cell").agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(28,20)"))
        .cast("double")
        .alias("c_nsq")
    )
    dots = (
        comp.join(F.broadcast(codebook), "pos")
        .groupBy(id_col, "cell")
        .agg(
            F.sum((F.col("xd") * F.col("c")).cast("decimal(28,20)"))
            .cast("double")
            .alias("dot")
        )
    )
    scored = dots.join(F.broadcast(cnorm), "cell").withColumn(
        "score", F.col("dot") / F.sqrt("c_nsq")
    )
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_p)
        .select(id_col, "cell")
    )


# -- constant-codebook fast assignment ----------------------------------------
#
# assign_cells' explode -> broadcast-join -> (id, cell)-shuffle -> window
# pipeline is the right shape when the codebook is too large to inline in an
# expression, but a coarse quantizer is cells x dim doubles — driver
# metadata (the FAISS posture: quantizers broadcast).  For codebooks under
# the literal budget the assignment is instead ONE narrow projection: each
# cell's score is the literal-constant exact dot (``plane_dot_expr`` — the
# same decimal-aggregate form every oracle already replays) divided by the
# cell's norm, and the argmax is ``array_max`` over ``struct(score, -cell)``
# (score desc, ties to the smallest cell — exactly the window's ordering,
# including NaN sorting greatest).  No explode, no join, no shuffle, no
# window; bit-identical scores and identical tie-breaks by construction.
#
# At 100 TB this removes a cells*dim-fold component-row blowup and two
# shuffles from every corpus-sized assignment (build, maintain-append,
# encode); the guard below keeps truly large codebooks (where a literal
# expression would dwarf the plan) on the distributed path.

#: cells*dim literal-budget default; override with the session conf
#: ``spark.sqlopt.ann.literalAssignMaxTerms`` (set <= 0 to force the
#: distributed path).
LIT_ASSIGN_MAX_TERMS = 65536


def _lit_assign_budget(spark) -> int:
    try:
        return int(
            spark.conf.get(
                "spark.sqlopt.ann.literalAssignMaxTerms",
                str(LIT_ASSIGN_MAX_TERMS),
            )
        )
    except ValueError:
        return LIT_ASSIGN_MAX_TERMS


def _sql_double(x: float) -> str:
    """Exact double literal (repr round-trips; CAST parses it back to the
    same bits — the plane_dot_expr discipline).  Non-finite values go
    through their string forms: repr(inf)/repr(nan) are bare identifiers
    that CAST cannot parse (ADVICE r14 — a NaN training component would
    otherwise raise AnalysisException instead of flowing through)."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"CAST({x!r} AS DOUBLE)"


#: One shared dot-product lambda body: the decimal-exact aggregate over
#: zip_with({col}, c.v) — c is the codebook-entry struct bound by the
#: enclosing transform.  Keeping ONE lambda per expression (instead of
#: one aggregate subtree per cell) is what makes plan time O(cells + dim)
#: instead of O(cells * dim): measured 10x faster analysis on the
#: 10-cell x 64-dim coarse codebook.
_DOT_OVER_CB = (
    "CAST(aggregate(zip_with({col}, c.v, (x, y) -> "
    "CAST(CAST(x AS DOUBLE) * y AS DECIMAL(28,20))), "
    "CAST(0 AS DECIMAL(38,20)), "
    "(acc, v) -> CAST(acc + v AS DECIMAL(38,20))) AS DOUBLE)"
)


def _const_normsq(spark, vecs: list[list[float]]) -> list[float]:
    """Exact decimal-summed ``|v|^2`` for constant vectors, evaluated by
    the session's own arithmetic (one OneRowRelation SELECT, no scan) so
    the values are bit-identical to the distributed ``cnorm`` aggregation
    — never re-implemented driver-side, where Python decimal rounding
    could drift an ulp from Spark's."""
    if not vecs:
        return []
    entries = ", ".join(
        "struct(array(" + ", ".join(_sql_double(x) for x in v) + ") AS v)"
        for v in vecs
    )
    row = spark.sql(
        f"SELECT transform(array({entries}), c -> "
        + _DOT_OVER_CB.format(col="c.v")
        + ") AS ns"
    ).first()
    return list(row["ns"])


def _centroid_consts(
    spark, codebook: DataFrame | dict
) -> list[tuple[int, list[float], float]] | None:
    """Driver-side ``[(cell, vector, |c|^2)]`` sorted by cell, or None
    when the codebook exceeds the literal-assignment budget (callers then
    keep the distributed :func:`assign_cells` path).  ``codebook`` is the
    ``(cell, pos, c)`` DataFrame or the training loop's
    ``{(cell, pos): c}`` dict (already driver metadata — no collect)."""
    if isinstance(codebook, dict):
        items = codebook.items()
    else:
        items = (
            ((r["cell"], r["pos"]), r["c"]) for r in codebook.collect()
        )
    by_cell: dict[int, dict[int, float]] = {}
    for (cell, pos), c in items:
        by_cell.setdefault(int(cell), {})[int(pos)] = float(c)
    n_terms = sum(len(v) for v in by_cell.values())
    if n_terms > _lit_assign_budget(spark):
        return None
    cells = sorted(by_cell)
    vecs = [
        [by_cell[cell][p] for p in sorted(by_cell[cell])] for cell in cells
    ]
    norms = _const_normsq(spark, vecs)
    return list(zip(cells, vecs, norms))


def _cb_array_sql(consts: list[tuple[int, list[float], float]]) -> str:
    """The codebook as ONE literal array-of-structs ``(v, n, nc)`` —
    folded to a single Literal at optimization time, so the assignment
    expression's tree is O(cells + dim), not O(cells * dim)."""
    entries = ", ".join(
        "struct(array("
        + ", ".join(_sql_double(x) for x in vec)
        + f") AS v, {_sql_double(nsq)} AS n, {-cell} AS nc)"
        for cell, vec, nsq in consts
    )
    return f"array({entries})"


def _scores_sql(emb_col: str, consts) -> str:
    """``array<struct<s: double, nc: int>>`` of per-cell scores for
    ``emb_col`` (an embedding column or slice expression): the literal
    decimal-exact dot over each codebook entry divided by its norm —
    bit-identical to the distributed scoring, computed in one
    transform."""
    dot = _DOT_OVER_CB.format(col=emb_col)
    return (
        f"transform({_cb_array_sql(consts)}, c -> "
        f"struct({dot} / sqrt(c.n) AS s, c.nc AS nc))"
    )


def _best_cells_col(
    emb_col: str,
    consts: list[tuple[int, list[float], float]],
    top_p: int = 1,
):
    """Array column of the ``top_p`` nearest cells for ``emb_col``
    (descending preference) against a constant codebook — the literal
    twin of :func:`assign_cells`'s ranking: score desc, ties to the
    smallest cell (struct ordering on ``(s, nc=-cell)`` — NaN sorts
    greatest, exactly the window's)."""
    scores = _scores_sql(emb_col, consts)
    if top_p == 1:
        return F.expr(f"array(-array_max({scores}).nc)")
    return F.expr(
        f"transform(slice(sort_array({scores}, false), 1, {top_p}), "
        "x -> -x.nc)"
    )


def assign_cells_fast(
    df: DataFrame,
    codebook: DataFrame | dict,
    id_col: str = "vec_id",
    top_p: int = 1,
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, cell) assignment against an UNEXPLODED frame: the literal
    narrow projection when the codebook fits the budget, else the
    distributed :func:`assign_cells` pipeline.  Results are identical
    (tests pin both paths equal)."""
    spark = df.sparkSession
    consts = _centroid_consts(spark, codebook)
    if consts is None:
        cb = (
            codebook
            if isinstance(codebook, DataFrame)
            else _codebook_df(spark, codebook)
        )
        return assign_cells(_comp(df, id_col, emb_col), cb, id_col, top_p)
    return df.select(
        id_col,
        F.explode(_best_cells_col(emb_col, consts, top_p)).alias("cell"),
    )


def _values_df(spark, cols: list[str], rows: list[tuple]) -> DataFrame:
    """Small metadata DataFrame as a VALUES LocalRelation — JVM-only, so
    writes/collects of codebook-sized frames skip the Python-RDD
    serialization path ``createDataFrame(list)`` takes (measured ~5 s per
    640-row codebook write through Python workers vs ~0.2 s as VALUES).
    Doubles are emitted as ``CAST(repr AS DOUBLE)`` (exact round-trip);
    ints/strings literally."""

    def _lit(x) -> str:
        if isinstance(x, float):
            return _sql_double(x)
        if isinstance(x, bool) or x is None:
            raise TypeError(f"unsupported VALUES literal: {x!r}")
        if isinstance(x, int):
            return str(x)
        raise TypeError(f"unsupported VALUES literal type: {type(x)}")

    tuples = ", ".join(
        "(" + ", ".join(_lit(x) for x in row) + ")" for row in rows
    )
    names = ", ".join(cols)
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS t({names})")


def _codebook_df(spark, rows: dict) -> DataFrame:
    """(cell, pos, c) DataFrame from the training loop's driver dict."""
    if not rows:  # empty corpus/sample: keep the schema, skip VALUES
        return spark.createDataFrame([], "cell int, pos int, c double")
    return _values_df(
        spark,
        ["cell", "pos", "c"],
        [(c, p, float(v)) for (c, p), v in sorted(rows.items())],
    )


def training_sample(
    df: DataFrame,
    sample_mod: int = IVF_SAMPLE_MOD,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The deterministic, explicitly SAMPLE-BOUNDED training input both
    quantizer trainers draw (guide §5: training cost must be a fraction
    chosen by ``sample_mod``, never a function of corpus size): rows with
    ``id % sample_mod == 0``, projected to ``(id, emb)``, deduped to one
    physical row per id (smallest MOR identity wins, deterministically)
    when the identity columns are present — exactly the frame
    :func:`kmeans_centroids` and :func:`..pq.train_pq` derived inline
    before r15.  Factored out so a composite build (IVFPQ: coarse k-means
    AND PQ sub-quantizers over the SAME sample predicate) derives and
    persists the sample ONCE instead of once per trainer.  The frame
    records the ``sample_mod`` it was drawn with, which each trainer
    checks against its own (:func:`_caller_sample`)."""
    sdf = df.where((F.col(id_col) % sample_mod) == 0).select(id_col, emb_col)
    if {"src_file", "row_idx"} <= set(df.columns):
        one = W.partitionBy(id_col).orderBy("src_file", "row_idx")
        sdf = (
            df.where((F.col(id_col) % sample_mod) == 0)
            .withColumn("_trn", F.row_number().over(one))
            .filter(F.col("_trn") == 1)
            .select(id_col, emb_col)
        )
    # _spread parallelizes the per-row assignment arithmetic locally
    out = _spread(sdf)
    out._training_sample_mod = sample_mod
    return out


def _caller_sample(sample: DataFrame, sample_mod: int) -> DataFrame:
    """``sample`` if :func:`training_sample` drew it with ``sample_mod``;
    a trainer handed any other frame would silently train on a sample
    its ``sample_mod`` argument does not describe."""
    drawn = getattr(sample, "_training_sample_mod", None)
    if drawn != sample_mod:
        raise ValueError(
            f"sample was drawn with sample_mod={drawn} (None: not a "
            f"training_sample frame), not the sample_mod={sample_mod} "
            "this trainer was asked for"
        )
    return sample


def kmeans_centroids(
    df: DataFrame,
    num_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    sample_mod: int = IVF_SAMPLE_MOD,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sample: DataFrame | None = None,
) -> DataFrame:
    """Sample-based k-means coarse quantizer — the TRAINED alternative to
    :func:`nearest_centroid`'s per-label means (on the fixtures it more
    than doubles recall@5 at nprobe=1: labels are not cosine geometry).

    Fully deterministic and engine-portable, so oracle-graded queries can
    reproduce it in SQL: the training sample is ``id % sample_mod = 0``
    (hash-style sampling — no RNG), seeds are the ``num_cells``
    smallest-id sample vectors, every accumulation is the DECIMAL(28,20)
    trick, assignment ties break to the smallest cell, and a cell that
    loses all members carries its previous centroid.  ``iters`` is a
    fixed unrolled count, not a convergence loop.

    The codebook (cells x dim rows) is collected to the driver between
    iterations — it IS metadata (the FAISS design: quantizers broadcast;
    only assignments stay distributed).  At 100 TB: training cost is
    ``iters`` scans of the SAMPLE (a fraction chosen by ``sample_mod``),
    each one (id, cell)-grouped shuffle of sample components; the corpus
    itself is only ever scanned by the final assignment.

    Returns the codebook DataFrame ``(cell int, pos int, c double)``.

    Duplicate-id discipline (same contract as ``pq.train_pq``): the
    driver-side seed/means dicts key on ``id_col`` values, so when the
    input carries the MOR row identity (``src_file``/``row_idx`` — the
    ``build_ivf_index``/``build_ivfpq_index`` path) the SAMPLE is
    deduped to one physical row per id (smallest identity wins) before
    seeding/training; without identity columns training assumes unique
    ids (assignment never does — it keys on ``_rowkey``).

    ``sample`` (r15): a caller-owned pre-derived training sample — the
    :func:`training_sample` frame, already persisted by the caller, who
    keeps lifecycle responsibility.  Lets :func:`..pq.build_ivfpq_index`
    share ONE cached sample between its two trainers instead of
    materializing the identical frame twice.  Raises ``ValueError``
    unless it was drawn with this call's ``sample_mod``."""
    spark = df.sparkSession
    # the sample feeds the seed collect plus one scan per iteration; at
    # 100 TB re-deriving it from the corpus each pass would multiply the
    # training read by iters+1 (guide §5: reuse justifies the cache)
    caller_owned = sample is not None
    sdf = (
        _caller_sample(sample, sample_mod)
        if caller_owned
        else training_sample(df, sample_mod, id_col, emb_col).persist()
    )
    try:
        # seeds: the num_cells smallest sample ids, vectors collected in
        # the SAME job (ids are unique here — deduped above when the MOR
        # identity is present, contractual otherwise)
        rows: dict[tuple[int, int], float] = {}
        for cell, r in enumerate(
            sdf.orderBy(id_col).limit(num_cells).collect()
        ):
            for p, x in enumerate(r[emb_col]):
                rows[(cell, p)] = float(x)
        for _ in range(iters):
            consts = _centroid_consts(spark, rows)
            if consts is not None:
                # ONE job per iteration: inline nearest-cell tag, then
                # the (cell, pos) decimal mean — no codebook join, no
                # assignment shuffle, no window
                means = (
                    sdf.withColumn(
                        "_cell",
                        F.element_at(_best_cells_col(emb_col, consts), 1),
                    )
                    .select("_cell", F.posexplode(emb_col).alias("pos", "x"))
                    .groupBy(F.col("_cell").alias("cell"), "pos")
                    .agg(
                        (
                            F.sum(
                                F.col("x")
                                .cast("double")
                                .cast("decimal(28,20)")
                            ).cast("double")
                            / F.count("*")
                        ).alias("c")
                    )
                )
            else:
                scomp = _comp(sdf, id_col, emb_col)
                assign = assign_cells(
                    scomp, _codebook_df(spark, rows), id_col
                )
                means = (
                    scomp.join(assign, id_col)
                    .groupBy("cell", "pos")
                    .agg(
                        (
                            F.sum(
                                F.col("xd").cast("decimal(28,20)")
                            ).cast("double")
                            / F.count("*")
                        ).alias("c")
                    )
                )
            new = {
                (r["cell"], r["pos"]): r["c"] for r in means.collect()
            }
            refit = {c for c, _ in new}
            # empty cells carry their previous centroid (the SQL twin is
            # a COALESCE left join from the previous codebook)
            rows = {
                key: (new[key] if key[0] in refit else old)
                for key, old in rows.items()
            }
    finally:
        if not caller_owned:
            sdf.unpersist()
    return _codebook_df(spark, rows)


def ivf_topk_trained(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    num_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    sample_mod: int = IVF_SAMPLE_MOD,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exact: bool = True,
    codebook: DataFrame | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """IVF search over a TRAINED coarse quantizer: k-means cells
    (:func:`kmeans_centroids`) instead of per-label means, same
    posting-list probe as :func:`ivf_topk`.  The quantizer's quality IS
    the recall budget at scale — on the fixtures this path roughly
    doubles recall@5 over the label cells at identical probe cost.
    ``n_probes`` expands the QUERY side to its p nearest cells (the
    index side always holds one posting list per vector), the standard
    IVF recall-vs-cost knob: candidates scale ~linearly with p, and
    p = num_cells degenerates to the exact search.  Pass a persisted
    ``codebook`` to skip training (see :func:`build_ivf_index`).
    Output: (query_id, neighbor_id, cos_sim, rn)."""
    if n_probes < 1:
        raise ValueError("n_probes must be >= 1")
    if codebook is None:
        codebook = kmeans_centroids(
            df, num_cells, iters, sample_mod, id_col, emb_col
        )
    consts = _centroid_consts(df.sparkSession, codebook)
    if consts is not None:
        # literal assignment: corpus and query cells are inline narrow
        # projections — no codebook join-back, no assignment shuffles
        e = with_norm(
            _spread(df.select(id_col, emb_col)), exact=exact
        ).withColumn(
            "cell", F.element_at(_best_cells_col(emb_col, consts), 1)
        )
        qbase = e.filter(F.col(id_col) < n_queries)
        if n_probes > 1:
            qbase = qbase.withColumn(
                "cell",
                F.explode(_best_cells_col(emb_col, consts, n_probes)),
            )
        q = qbase.select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            F.col("nsq").alias("q_nsq"),
            F.col("cell").alias("q_list"),
        )
    else:
        comp = _comp(df, id_col, emb_col)
        assign = assign_cells(comp, codebook, id_col)
        e = with_norm(df.select(id_col, emb_col), exact=exact).join(
            assign, id_col
        )
        if n_probes == 1:
            # the query's nearest cell IS its index assignment — reuse e
            # instead of re-running the assignment pipeline on the queries
            q = e.filter(F.col(id_col) < n_queries).select(
                F.col(id_col).alias("query_id"),
                F.col(emb_col).alias("q_emb"),
                F.col("nsq").alias("q_nsq"),
                F.col("cell").alias("q_list"),
            )
        else:
            q_cells = assign_cells(
                comp.where(F.col(id_col) < n_queries), codebook, id_col,
                top_p=n_probes,
            )
            q = (
                with_norm(
                    df.select(id_col, emb_col).where(
                        F.col(id_col) < n_queries
                    ),
                    exact=exact,
                )
                .join(q_cells, id_col)
                .select(
                    F.col(id_col).alias("query_id"),
                    F.col(emb_col).alias("q_emb"),
                    F.col("nsq").alias("q_nsq"),
                    F.col("cell").alias("q_list"),
                )
            )
    pairs = (
        e.join(
            F.broadcast(q),
            (F.col("cell") == F.col("q_list"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .withColumn(
            "dot", F.expr(dot_expr("q_emb", emb_col, duck=False, exact=exact))
        )
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos_sim", "rn")
    )


# -- the persisted ANN sidecar (IVF and IVFPQ) --------------------------------
#
# One inverted-file structure with pluggable codes (the FAISS IndexIVF
# family).  Both indexes persist under ``<table>/_index/<kind>/<emb_col>/``
# with the bloom-sidecar conventions (underscore dir, invisible to base
# scans, index-scoped advisory lock): their codebooks, ``postings/cell=<c>/``
# hive partitions of the corpus reclustered by coarse cell — each row
# carrying its MOR identity ``(src_file, row_idx)``, the key the
# deletion-vector store uses — and the ``meta.json`` staleness anchor (the
# snapshot's data + deletion-vector file list and the postings' row count).
# :class:`_Sidecar` owns that format: the build skeleton, the staleness
# gate, the query side, the append step and the maintenance fold.  A kind
# brings only its training, its postings encoding, its scoring and any
# extra anchor keys.

#: Query-side rows (``n_queries x n_probes``) a probe collects to the driver
#: and re-injects as VALUES relations; above it the probed cells stay a
#: distributed :func:`assign_cells_fast` frame and only the distinct cell
#: ids (at most the codebook's cell count) reach the driver.  The VALUES
#: text is parsed and planned on the driver: 1024 rows of (query_id, cell,
#: q_nsq) add about 0.4 s to a query, 4096 rows about 1 s (Spark 4.1,
#: local[1] on a 4-vCPU host).
PROBE_COLLECT_MAX_ROWS = 1024


def _read_or_none(spark, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None only when the path is ABSENT:
    a permission fault or a corrupt file keeps its real cause instead of
    masquerading as "no index"."""
    try:
        return spark.read.parquet(path)
    except Exception as e:  # noqa: BLE001 — classified below
        if reader._is_missing_file_error(e):
            return None
        raise


def _cells(spark, path: str) -> set[int] | None:
    """The ``cell=<c>`` partition ids under ``path`` (one listing; None
    when ``path`` does not exist)."""
    _, fs, p = reader._fs(spark, path)
    if not fs.exists(p):
        return None
    return {
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith("cell=")
    }


def _identity_frame(spark, table_path: str, listing) -> DataFrame:
    """The listed files' LIVE rows — read through the deletion vectors, so
    no sidecar indexes a tombstoned row (a file added together with a
    tombstone batch, the dv_update shape, included) — with their MOR
    identity as ``src_file``/``row_idx``.  A table whose OWN schema uses
    those names would silently duplicate columns — refuse."""
    base_path = table_path if is_partitioned(spark, table_path) else None
    df = _live(
        _with_identity(spark, table_path, listing, base_path),
        _read_dv(spark, table_path),
    )
    clash = {"src_file", "row_idx"} & set(df.columns)
    if clash:
        raise ValueError(
            f"table column(s) {sorted(clash)} collide with the index "
            "posting lists' row-identity columns — rename them before "
            "indexing"
        )
    return df.withColumnsRenamed(
        {"__src_file": "src_file", "__row_idx": "row_idx"}
    )


def _broadcast_threshold_bytes(spark) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes as
    Spark itself parses the byte string (-1: broadcasting disabled, so
    every gate comparison fails) — the gate the maintenance fold applies
    before force-broadcasting a tombstone set."""
    return int(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )


def _table_file_set(spark, table_path: str) -> set[str]:
    """The table's current state for staleness purposes: data files AND
    deletion-vector batch files (table-relative).  A dv_delete adds a
    batch without touching any data file — excluding DV files would let
    a desynced index pass the gate and resurrect deleted rows."""
    return {
        _rel_to_table(table_path, f)
        for f in list_data_files(spark, table_path, recursive=True)
    } | {
        _rel_to_table(table_path, f)
        for f in list_dv_files(spark, table_path)
    }


@dataclass(frozen=True)
class _Probe:
    """What the query side hands a kind's scoring: the query rows ``(id,
    emb)`` read through the deletion vectors, each query's probed cells
    ``(query_id, cell, q_nsq)`` and norm ``(query_id, q_nsq)``, and the
    candidate postings read pruned to the probed cells ``(id, <cols>,
    cell)``."""

    queries: DataFrame
    cells: DataFrame
    norms: DataFrame
    cand: DataFrame


@dataclass(frozen=True)
class _Sidecar:
    """One persisted inverted-file index kind.  ``books`` names the
    codebook directories (the coarse quantizer first); ``encode(df, books,
    meta, id_col, emb_col)`` turns identity-bearing live rows into
    postings rows carrying ``cell``, repartitioned by it."""

    kind: str
    books: tuple[str, ...]
    encode: Callable[..., DataFrame]

    @property
    def label(self) -> str:
        return self.kind.upper()

    @property
    def builder(self) -> str:
        return f"build_{self.kind}_index"

    def root(self, table_path: str, emb_col: str) -> str:
        return f"{table_path.rstrip('/')}/_index/{self.kind}/{emb_col}"

    def _absent(self, root: str) -> ValueError:
        return ValueError(
            f"no {self.label} index under {root} — run {self.builder} first"
        )

    @staticmethod
    def _debris(spark, root: str) -> list[str]:
        """The ``_maintain_*`` stage/trash dirs a maintain leaves until it
        finishes, sorted."""
        _, fs, root_p = reader._fs(spark, root)
        return sorted(
            f.path
            for f, _ in reader.statuses(spark, fs.listStatus(root_p))
            if f.path.rsplit("/", 1)[-1].startswith("_maintain_")
        )

    def meta(self, spark, table_path: str, emb_col: str) -> dict:
        """The staleness anchor.  Every postings-writing pass also writes
        it, so a usable index without one is CRASH DEBRIS (e.g. a failed
        anchor overwrite) — raise and demand a rebuild rather than
        searching ungated; corrupt JSON and transient read faults are
        loud for the same reason."""
        root = self.root(table_path, emb_col)
        try:
            return json.loads(_read_small_file(spark, f"{root}/meta.json"))
        except Exception as e:  # noqa: BLE001 — classified below
            if reader._is_missing_file_error(e):
                raise ValueError(
                    f"{self.label} index under {root} has no staleness "
                    "anchor (crashed build/maintain left partial state?) "
                    f"— rebuild with {self.builder}"
                ) from e
            raise

    def postings(self, spark, table_path: str, emb_col: str):
        """The posting lists (None only when absent), ``cell`` read back
        as INT so probe filters prune partitions."""
        df = _read_or_none(spark, f"{self.root(table_path, emb_col)}/postings")
        return None if df is None else df.withColumn(
            "cell", F.col("cell").cast("int")
        )

    def codebooks(self, spark, table_path: str, emb_col: str) -> list:
        """The persisted codebooks in ``books`` order; an absent one
        means there is no index."""
        root = self.root(table_path, emb_col)
        books = [_read_or_none(spark, f"{root}/{b}") for b in self.books]
        if any(b is None for b in books):
            raise self._absent(root)
        return books

    def drift(self, spark, table_path: str, emb_col: str, meta=None):
        """The staleness gate: ``(anchor, added, removed)`` — table files
        (data + deletion-vector batches) the anchor does not cover, and
        anchored files the table no longer has.  One listing, metadata
        scale."""
        meta = self.meta(spark, table_path, emb_col) if meta is None else meta
        built = set(meta["files"])
        now = _table_file_set(spark, table_path)
        return meta, sorted(now - built), built - now

    def build(
        self, spark, table_path, emb_col, id_col, train, anchor=None
    ) -> int:
        """Train ``train(df) -> [codebook, ...]`` on the table's live rows,
        persist the codebooks, the postings and the anchor (plus the
        kind's ``anchor`` keys).  Returns the number of trained cells."""
        # the anchor is THIS snapshot's file list (data + DV batches),
        # pinned before the training scans: re-listing afterwards would
        # fold in files a concurrent commit added that the index never saw
        listing = reader.list_files(spark, table_path, recursive=True)
        built_from = sorted(
            _rel_to_table(table_path, f)
            for f in [x.path for x in listing] + list_dv_files(spark, table_path)
        )
        df = _identity_frame(spark, table_path, listing)
        books = train(df)
        root = self.root(table_path, emb_col)
        # the sidecar writes run under the index lock a maintain holds
        # (training is read-only and stays outside it); creating the lock
        # file creates the index dir on a first build
        with _writer_lock(spark, root, 30.0):
            # a crashed maintain leaves _maintain_* stage/trash dirs as
            # its tripwire; a rebuild supersedes them
            _delete_files(spark, self._debris(spark, root), recursive=True)
            # the codebook writes are independent single-file jobs:
            # overlapped, each back-fills the other's scheduling floor
            with ThreadPoolExecutor(max_workers=len(books)) as pool:
                writes = [
                    pool.submit(
                        book.coalesce(1).write.mode("overwrite").parquet,
                        f"{root}/{name}",
                    )
                    for name, book in zip(self.books, books)
                ]
                for w in writes:
                    w.result()
            books = self.codebooks(spark, table_path, emb_col)
            meta = {"files": built_from, "n_vectors": 0, **(anchor or {})}
            post = f"{root}/postings"
            self.encode(df, books, meta, id_col, emb_col).write.partitionBy(
                "cell"
            ).mode("overwrite").parquet(post)
            # n_vectors lets maintain detect a half-applied earlier pass
            meta["n_vectors"] = spark.read.parquet(post).count()
            _write_small_file(
                spark, f"{root}/meta.json", json.dumps(meta, indent=0).encode()
            )
        return books[0].select("cell").distinct().count()

    def append(self, spark, table_path, emb_col, id_col, added, meta) -> None:
        """Encode the added files' live rows with the PERSISTED codebooks
        (read here, inside the caller's lock; never retrained) and append
        them — with their row identity — to the posting lists."""
        df = _identity_frame(
            spark, table_path, reader.stat_files(spark, table_path, added)
        )
        books = self.codebooks(spark, table_path, emb_col)
        self.encode(df, books, meta, id_col, emb_col).write.partitionBy(
            "cell"
        ).mode("append").parquet(f"{self.root(table_path, emb_col)}/postings")

    def maintain(
        self, spark, table_path, emb_col, id_col, lock_wait_seconds
    ) -> dict:
        root = self.root(table_path, emb_col)
        if self.postings(spark, table_path, emb_col) is None:
            raise self._absent(root)
        # two maintainers racing would fold the same changes twice: the
        # whole pass runs under the INDEX-scoped lock, which never
        # contends with the table's own writer lock
        with _writer_lock(spark, root, lock_wait_seconds):
            return self._maintain_locked(spark, table_path, emb_col, id_col)

    def _maintain_locked(self, spark, table_path, emb_col, id_col) -> dict:
        """The maintenance fold (the caller holds the index lock).  It is
        postings-schema-agnostic: tombstone removal anti-joins whole rows
        on the MOR identity and the stage-then-swap moves hive
        partitions; only the append step encodes."""
        root = self.root(table_path, emb_col)
        # re-read the postings INSIDE the lock: a maintainer (or rebuild)
        # that just committed could have swapped cell partitions
        postings = self.postings(spark, table_path, emb_col)
        jvm, fs, _ = reader._fs(spark, root)
        path = jvm.org.apache.hadoop.fs.Path
        debris = self._debris(spark, root)
        meta, added, removed_files = self.drift(spark, table_path, emb_col)
        if not added and not removed_files:
            # the anchor is the commit point: debris next to a FRESH
            # anchor is a completed maintain whose final cleanup didn't
            # run — disposable, not a correctness signal
            _delete_files(spark, debris, recursive=True)
            return {"appended": 0, "removed": 0, "cells_rewritten": 0}
        rebuild = f"rebuild with {self.builder}"
        if debris:
            # drift + debris = a maintain crashed MID-flight (before its
            # anchor committed); the postings may be part-swapped
            raise ValueError(
                f"{self.label} index under {root} has crashed-maintenance "
                f"debris ({', '.join(d.rsplit('/', 1)[-1] for d in debris)})"
                f" — {rebuild}"
            )
        if removed_files:
            raise ValueError(
                f"{self.label} index under {root} cannot be maintained "
                f"incrementally: {len(removed_files)} indexed file(s) "
                f"retired/rewritten (compaction or materialize) — {rebuild}"
            )
        post_root = f"{root}/postings"
        have = spark.read.parquet(post_root).count()  # footers only
        if "n_vectors" in meta and have != meta["n_vectors"]:
            raise ValueError(
                f"postings under {root} hold {have} vectors but the "
                f"anchor recorded {meta['n_vectors']} — a crashed "
                f"maintain left partial state; {rebuild} (appending "
                "again would duplicate candidates)"
            )
        if not {"src_file", "row_idx"} <= set(postings.columns):
            raise ValueError(
                f"{self.label} postings under {root} predate row-identity "
                f"postings (no src_file/row_idx columns) — {rebuild}"
            )
        added_dv = [f for f in added if f.startswith("_dv/")]
        added_data = [f for f in added if not f.startswith("_dv/")]

        n_removed = 0
        cells_rewritten = 0
        trash = None
        if added_dv:
            dv_paths = [f"{table_path.rstrip('/')}/{f}" for f in added_dv]
            doomed = (
                spark.read.parquet(*dv_paths)
                .select("src_file", "row_idx")
                .distinct()
            )
            # dv_delete_where can tombstone any fraction of the table in
            # one batch, and an unconditional broadcast would force that
            # set onto the driver and every executor: hint it only when
            # the batches' on-disk bytes (the statistic Catalyst itself
            # estimates broadcastability from) fit the session's
            # threshold, else leave the join to AQE
            dv_bytes = sum(
                fs.getContentSummary(path(p)).getLength() for p in dv_paths
            )
            if 0 <= dv_bytes <= _broadcast_threshold_bytes(spark):
                doomed = F.broadcast(doomed)
            key = ["src_file", "row_idx"]
            # one column-pruned postings scan against the tombstone set
            affected = sorted(
                r["cell"]
                for r in postings.join(doomed, key, "left_semi")
                .select("cell")
                .distinct()
                .collect()
            )
            if affected:
                token = uuid.uuid4().hex[:8]
                stage = f"{root}/_maintain_stage_{token}"
                trash = f"{root}/_maintain_trash_{token}"
                live_aff = postings.where(F.col("cell").isin(affected))
                before_aff = live_aff.count()
                live_aff.join(doomed, key, "left_anti").repartition(
                    "cell"
                ).write.partitionBy("cell").parquet(stage)
                # every affected cell emptied -> no cell= dirs to read
                # (a blanket except here would hide genuine read faults)
                staged = _cells(spark, stage)
                after_aff = spark.read.parquet(stage).count() if staged else 0
                n_removed = before_aff - after_aff
                # swap: old partitions OUT to trash (recoverable until the
                # anchor commits), staged replacements IN; a cell whose
                # every row was removed simply has no staged dir — probes
                # already tolerate missing cell partitions
                move(spark, [
                    (f"{post_root}/cell={c}", f"{trash}/cell={c}")
                    for c in affected
                    if fs.exists(path(f"{post_root}/cell={c}"))
                ] + [
                    (f"{stage}/cell={c}", f"{post_root}/cell={c}")
                    for c in sorted(staged or ())
                ])
                _delete_files(spark, [stage], recursive=True)
                cells_rewritten = len(affected)

        if added_data:
            self.append(spark, table_path, emb_col, id_col, added_data, meta)
        # the ONLY legitimate unreadable-postings state is "every cell
        # emptied"; a genuine read failure must propagate rather than
        # commit an n_vectors=0 anchor over a correct index
        final = (
            spark.read.parquet(post_root).count()
            if _cells(spark, post_root)
            else 0
        )
        _write_small_file(
            spark,
            f"{root}/meta.json",
            json.dumps(
                {
                    # the kind's own anchor keys pass through untouched
                    **meta,
                    # anchor = exactly what the index now covers (built ∪
                    # added), never a re-listing: commits landing during
                    # THIS maintain keep the gate tripping until the next
                    "files": sorted(set(meta["files"]) | set(added)),
                    "n_vectors": int(final),
                },
                indent=0,
            ).encode(),
        )
        _delete_files(spark, [trash], recursive=True)
        return {
            "appended": int(final - (have - n_removed)),
            "removed": int(n_removed),
            "cells_rewritten": int(cells_rewritten),
        }

    def search(
        self,
        spark,
        table_path,
        score,
        *,
        n_queries,
        n_probes,
        id_col,
        emb_col,
        allow_stale,
        cols,
        exact=True,
        books=None,
        meta=None,
    ) -> DataFrame:
        """The query side: gate, rank each query's ``n_probes`` nearest
        cells with the persisted coarse quantizer, list the ``cell=``
        partitions, and hand ``score`` a :class:`_Probe` whose candidate
        read lists ONLY the probed cells' directories (stronger than a
        partition filter, which still lists every partition at planning
        time).  Under :data:`PROBE_COLLECT_MAX_ROWS` one narrow job
        computes every query's cells AND exact norm and they come back as
        VALUES relations, so the scoring job's broadcast sides carry
        literal rows instead of re-running the query scan and literal
        scoring; the round trip is bit-identical (repr discipline).
        ``books``/``meta``: codebooks and anchor the caller already read."""
        if n_probes < 1:
            raise ValueError("n_probes must be >= 1")
        root = self.root(table_path, emb_col)
        if books is None:
            books = self.codebooks(spark, table_path, emb_col)
        # a table that gained/retired files — or tombstoned rows via a
        # deletion-vector batch — since the anchor has vectors the postings
        # don't know (or shouldn't serve): a probe would silently LOSE or
        # RESURRECT results
        if not allow_stale:
            _, added, removed = self.drift(spark, table_path, emb_col, meta)
            if added or removed:
                raise ValueError(
                    f"{self.label} index under {root} is STALE: the "
                    "table's file set (data + deletion-vector batches) "
                    f"changed since the last build or maintain "
                    f"({len(added)} added, {len(removed)} removed) — "
                    f"maintain_{self.kind}_index folds appended files AND "
                    "deletion-vector batches in incrementally (rebuild "
                    "only for retired files), or pass allow_stale=True to "
                    "search the indexed subset anyway"
                )
        # query vectors are read through the deletion vectors too: a
        # tombstoned row must neither query nor be served
        queries = (
            read_mor(spark, table_path)
            .select(id_col, emb_col)
            .where(F.col(id_col) < n_queries)
        )
        nsq = F.expr(normsq_expr(emb_col, duck=False, exact=exact))
        consts = _centroid_consts(spark, books[0])
        if consts is not None and n_queries * n_probes <= PROBE_COLLECT_MAX_ROWS:
            rows = queries.select(
                F.col(id_col).alias("query_id"),
                _best_cells_col(emb_col, consts, n_probes).alias("cells"),
                nsq.alias("q_nsq"),
            ).collect()
            cell_rows = [(r[0], c, r[2]) for r in rows for c in r[1]]
            cells = values_df(
                spark, "query_id bigint, cell int, q_nsq double", cell_rows
            )
            norms = values_df(
                spark,
                "query_id bigint, q_nsq double",
                [(r[0], r[2]) for r in rows],
            )
            probed = {c for _, c, _ in cell_rows}
        else:
            norms = queries.select(
                F.col(id_col).alias("query_id"), nsq.alias("q_nsq")
            )
            cells = (
                assign_cells_fast(
                    queries, books[0], id_col, top_p=n_probes, emb_col=emb_col
                )
                .withColumnRenamed(id_col, "query_id")
                .join(norms, "query_id")
            )
            probed = {r[0] for r in cells.select("cell").distinct().collect()}
        post = f"{root}/postings"
        present = _cells(spark, post)
        if present is None:
            raise self._absent(root)
        # a trained cell can hold ZERO corpus vectors (the empty-cell
        # carry keeps its centroid alive; a maintain can empty it):
        # probing it contributes no candidates
        probed = sorted(probed & present)
        if not probed:  # no query below the id bound, or only empty cells
            return spark.createDataFrame(
                [], "query_id long, neighbor_id long, cos_sim double, rn long"
            )
        cand = (
            spark.read.option("basePath", post)
            .parquet(*[f"{post}/cell={c}" for c in probed])
            .withColumn("cell", F.col("cell").cast("int"))
            # prune the row-identity maintenance columns out of the scan
            .select(id_col, *cols, "cell")
        )
        return score(_Probe(queries, cells, norms, cand))


def _ivf_encode(df, books, meta, id_col, emb_col) -> DataFrame:
    """IVF postings: ``(id, embedding, src_file, row_idx, nsq, cell)`` —
    full embeddings with the exact norm precomputed, so a probe scores
    candidates without recomputing it.  Assignment is keyed on the MOR
    row identity, never ``id_col``: a duplicate id must not cross-join
    (the "file:idx" key is injective — row_idx is numeric, so the suffix
    after the last ':' is unambiguous)."""
    (book,) = books
    keyed = with_norm(
        _spread(df.select(id_col, emb_col, "src_file", "row_idx")),
        emb_col,
        exact=True,
    )
    consts = _centroid_consts(df.sparkSession, book)
    if consts is not None:
        # literal assignment: the cell tag is computed inline on the
        # corpus scan — no join-back, no assignment shuffles
        return keyed.withColumn(
            "cell", F.element_at(_best_cells_col(emb_col, consts), 1)
        ).repartition("cell")
    keyed = keyed.withColumn(
        "_rowkey", F.concat_ws(":", F.col("src_file"), F.col("row_idx"))
    )
    assign = assign_cells(_comp(keyed, "_rowkey", emb_col), book, "_rowkey")
    # one shuffle on cell: each output file holds exactly one cell, so
    # probed-cell reads never touch foreign bytes
    return keyed.join(assign, "_rowkey").drop("_rowkey").repartition("cell")


_IVF = _Sidecar("ivf", ("codebook",), _ivf_encode)


def build_ivf_index(
    spark,
    table_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    num_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    sample_mod: int = IVF_SAMPLE_MOD,
) -> int:
    """Persist a trained IVF index as a table sidecar —
    ``<table>/_index/ivf/<emb_col>/{codebook,postings,meta.json}``.
    Returns the number of trained cells.

    The POSTING LISTS are the point of the sidecar (the FAISS / Delta
    liquid-clustering design): the corpus is assigned once at build time
    and reclustered by cell — ``postings/cell=<c>/`` partitions holding
    ``(id, embedding, nsq)`` plus the row identity — so a probe's
    candidate read is partition-pruned to its probed cells' files
    (:func:`ivf_search_indexed`).  The identity lets
    :func:`maintain_ivf_index` fold a later deletion-vector batch in as a
    precise anti-join, with no assumption that ``id_col`` is unique.
    :func:`read_ivf_index` / :func:`read_ivf_postings` load the halves."""
    return _IVF.build(
        spark,
        table_path,
        emb_col,
        id_col,
        lambda df: [
            kmeans_centroids(df, num_cells, iters, sample_mod, id_col, emb_col)
        ],
    )


def maintain_ivf_index(
    spark,
    table_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    lock_wait_seconds: float = 30.0,
) -> dict:
    """Fold BOTH change shapes a live table accumulates into the
    persisted IVF index without retraining or re-scanning the corpus:

    - **added data files** append their live rows to the posting lists,
      assigned with the persisted codebook (the codebook is the recall
      budget; retrain with :func:`build_ivf_index` when the distribution
      shifts);
    - **added deletion-vector batches** REMOVE their tombstoned rows by
      row identity: read the new batches (broadcast only when their
      on-disk bytes fit the session's autoBroadcastJoinThreshold), find
      the affected cells with one column-pruned postings scan, and
      rewrite ONLY those cells' partitions via stage-then-swap.  A
      dv_update (tombstone + same-id copy in one commit) maintains
      cleanly: identity, not id equality, decides.

    Cost: O(new tombstones + affected-cell bytes + new-file bytes).
    Still a rebuild: retired/rewritten data files (compaction,
    materialize).  Crash discipline: the anchor advances LAST, so a crash
    anywhere leaves the gate tripping; ``_maintain_*`` stage/trash debris
    next to drift, or a postings count that disagrees with the anchor,
    makes the next maintain demand a rebuild (debris next to a FRESH
    anchor is a committed maintain's failed cleanup and is swept).  Old
    cell partitions move to a trash dir, never deleted, until the anchor
    commits — duplicates, never loss.  The pass runs under the
    index-scoped advisory lock.

    Returns ``{"appended": n, "removed": n, "cells_rewritten": n}``."""
    return _IVF.maintain(spark, table_path, emb_col, id_col, lock_wait_seconds)


def read_ivf_index(spark, table_path: str, emb_col: str = "embedding"):
    """The codebook persisted by :func:`build_ivf_index` (None if absent;
    any other read fault raises)."""
    return _read_or_none(spark, f"{_IVF.root(table_path, emb_col)}/codebook")


def read_ivf_postings(spark, table_path: str, emb_col: str = "embedding"):
    """The reclustered posting lists persisted by :func:`build_ivf_index`
    (None if absent): one partition per cell, ``cell`` read as INT."""
    return _IVF.postings(spark, table_path, emb_col)


def ivf_search_indexed(
    spark,
    table_path: str,
    n_queries: int = 10,
    k: int = 5,
    n_probes: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exact: bool = True,
    allow_stale: bool = False,
) -> DataFrame:
    """IVF probe over a PERSISTED index (:func:`build_ivf_index`): rank
    each query vector's ``n_probes`` nearest cells, then score exactly
    against only those cells' posting lists — the scan touches only
    ``probed/num_cells`` of the corpus bytes (asserted via inputFiles in
    tests/test_operators.py).  Results are identical to
    :func:`ivf_topk_trained` with the same codebook and ``n_probes``.
    Refuses a stale index unless ``allow_stale``.

    Output: (query_id, neighbor_id, cos_sim, rn)."""

    def score(p: _Probe) -> DataFrame:
        q = p.queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
        ).join(p.cells, "query_id")
        pairs = (
            _spread(p.cand)
            .join(F.broadcast(q), "cell")
            .where(F.col(id_col) != F.col("query_id"))
            .withColumn(
                "dot",
                F.expr(dot_expr("q_emb", emb_col, duck=False, exact=exact)),
            )
            .withColumn(
                "cos_sim",
                F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col(id_col)
        )
        return (
            pairs.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= k)
            .select(
                "query_id", F.col(id_col).alias("neighbor_id"), "cos_sim", "rn"
            )
        )

    return _IVF.search(
        spark,
        table_path,
        score,
        n_queries=n_queries,
        n_probes=n_probes,
        id_col=id_col,
        emb_col=emb_col,
        allow_stale=allow_stale,
        cols=(emb_col, "nsq"),
        exact=exact,
    )
