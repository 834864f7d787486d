"""Product-quantization (PQ) embedding compression + ADC top-k search.

Beyond-reference surface (the reference engine has no vector machinery at
all — its similarity story stops at delegating scans to MySQL,
engine/src/plan_executor.cpp:53-63); this module extends the engine's
LLM-pipeline components with the canonical quantized-serving design
(Jegou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the FAISS ``IndexPQ`` shape):

- the embedding space is split into ``n_subs`` contiguous sub-blocks;
- each sub-block gets its own small k-means codebook (``n_codes``
  centroids over ``dim / n_subs`` components), trained on the same
  hash-sampled, deterministically-seeded, decimal-exact loop as the IVF
  coarse quantizer (:mod:`.similarity`) so oracle-graded queries can
  replay the whole thing in SQL;
- a vector is ENCODED as one small code per sub-block — at 100 TB this
  is the storage story: 64 floats (256 B) become ``n_subs`` byte-ish
  codes (16 B at the defaults, a 16x footprint cut; recall@5 on the
  fixtures is 0.5 vs 0.1 at 4x8 — codes were sized for recall, not
  maximum compression), making exhaustive candidate scans affordable (here the relational long form ``(id, sub, code)`` stands
  in for the packed byte layout);
- search is ADC (asymmetric distance computation): the QUERY stays
  exact; per query a tiny lookup table of ``n_subs x n_codes`` partial
  dots is computed once against the codebook, and every candidate's
  approximate cosine is just ``n_subs`` table lookups summed —
  reconstructed-vector dot and norm both come from the LUT, the corpus
  embeddings are never touched at search time.

Scale posture: training touches only the sample (``iters`` grouped
shuffles of sample components); encoding is one corpus scan + one
``(id, sub)``-grouped shuffle; ADC search scans the CODES table (the
compressed representation, ``n_subs`` small ints per vector), joins a
broadcast LUT, and partial-aggregates map-side — no shuffle of raw
embeddings, no cross join.  Compose with the IVF posting lists
(:func:`.similarity.build_ivf_index`) for candidate pruning when even
the codes scan is too much (the FAISS IVFPQ shape).

Determinism/portability: identical discipline to :mod:`.similarity` —
hash-sampled training set (``id % sample_mod = 0``), seeds are the
``n_codes`` smallest-id sample vectors (the same seeds for every
sub-block by construction), every accumulation is the DECIMAL(28,20)
trick, assignment ranks by ``dot / sqrt(|c|^2)`` with ties to the
smallest code, empty codes carry their previous centroid.  Spark and
the DuckDB oracle produce bit-identical approximate cosines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import _spread
from .similarity import (
    DIM,
    IVF_CELLS,
    IVF_SAMPLE_MOD,
    _DOT_OVER_CB,
    _Sidecar,
    _best_cells_col,
    _caller_sample,
    _cb_array_sql,
    _centroid_consts,
    _comp,
    _const_normsq,
    _lit_assign_budget,
    _scores_sql,
    _values_df,
    assign_cells,
    assign_cells_fast,
    dot_expr,
    kmeans_centroids,
    normsq_expr,
    training_sample,
    with_norm,
)

PQ_SUBS = 16
PQ_CODES = 16
PQ_ITERS = 2
PQ_SAMPLE_MOD = 3


def _comp_sub(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_subs: int = PQ_SUBS,
    dim: int = DIM,
) -> DataFrame:
    """(id, sub, pos, xd): one row per vector component, double-cast,
    tagged with its contiguous sub-block (``pos`` stays GLOBAL — a
    position uniquely determines its sub-block, so codebook joins on
    ``pos`` alone pair the right sub-quantizer)."""
    dsub = dim // n_subs
    return (
        df.select(F.col(id_col), F.posexplode(emb_col).alias("pos", "x"))
        .withColumn("xd", F.col("x").cast("double"))
        .withColumn("sub", (F.col("pos") / dsub).cast("int"))
    )


def _dsum(col):
    """Order-independent exact sum of doubles (the module-wide trick)."""
    return F.sum(F.col(col).cast("decimal(28,20)")).cast("double")


def assign_codes(
    comp_sub: DataFrame, codebook: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Nearest-code assignment PER SUB-BLOCK of component-exploded
    vectors against a ``(sub, code, pos, c)`` codebook: decimal-exact
    partial dots, rank by ``dot / sqrt(|c|^2)`` within each
    ``(id, sub)``, ties to the smallest code.  The codebook is tiny
    (``n_subs x n_codes x dsub`` rows) and broadcasts; the one shuffle
    is the ``(id, sub, code)`` partial-dot aggregation.
    Output: ``(id, sub, code)`` — one code per vector per sub-block."""
    cnorm = codebook.groupBy("sub", "code").agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(28,20)"))
        .cast("double")
        .alias("c_nsq")
    )
    dots = (
        comp_sub.join(F.broadcast(codebook), ["sub", "pos"])
        .groupBy(id_col, "sub", "code")
        .agg(
            F.sum((F.col("xd") * F.col("c")).cast("decimal(28,20)"))
            .cast("double")
            .alias("dot")
        )
    )
    scored = dots.join(F.broadcast(cnorm), ["sub", "code"]).withColumn(
        "score", F.col("dot") / F.sqrt("c_nsq")
    )
    w = W.partitionBy(id_col, "sub").orderBy(
        F.col("score").desc(), F.col("code")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "sub", "code")
    )


# -- constant-codebook fast assignment (the PQ twin of
# similarity._centroid_consts / _best_cells_col: sub-quantizers are
# n_subs x n_codes x dsub doubles — driver metadata — so nearest-code
# assignment is ONE narrow projection producing the codes array directly,
# replacing explode + broadcast join + (id, sub, code) shuffle + window.
# Bit-identical scores (same literal decimal-aggregate dot, same
# score-desc/code-asc tie-break) by construction; codebooks over the
# literal budget keep the distributed assign_codes path.


def _pq_consts(
    spark, codebook: DataFrame | dict
) -> list[list[tuple[int, list[float], float]]] | None:
    """Driver-side per-sub constants ``[sub][(code, subvec, |c|^2)]``
    (subs ascending, codes ascending), or None when over the literal
    budget.  ``codebook`` is the ``(sub, code, pos, c)`` DataFrame or the
    training loop's ``{(sub, code, pos): c}`` dict.  ``pos`` is GLOBAL,
    so each subvec lists its components in global-position order —
    exactly the rows the distributed path joins on."""
    if isinstance(codebook, dict):
        items = codebook.items()
    else:
        items = (
            ((r["sub"], r["code"], r["pos"]), r["c"])
            for r in codebook.collect()
        )
    by_sc: dict[tuple[int, int], dict[int, float]] = {}
    for (s, k, p), c in items:
        by_sc.setdefault((int(s), int(k)), {})[int(p)] = float(c)
    n_terms = sum(len(v) for v in by_sc.values())
    if n_terms > _lit_assign_budget(spark):
        return None
    keys = sorted(by_sc)
    vecs = [[by_sc[key][p] for p in sorted(by_sc[key])] for key in keys]
    norms = _const_normsq(spark, vecs)
    n_subs = max(s for s, _ in keys) + 1
    out: list[list[tuple[int, list[float], float]]] = [
        [] for _ in range(n_subs)
    ]
    for (s, k), vec, nsq in zip(keys, vecs, norms):
        out[s].append((k, vec, nsq))
    return out


def _codes_col(emb_col: str, consts, dsub: int):
    """Array column of nearest codes (index = sub-block id) for
    ``emb_col`` against constant sub-quantizers — the literal twin of
    :func:`assign_codes`'s ranking (score desc, ties to the smallest
    code), one transform-argmax per sub-block over the slice of the
    embedding that sub-quantizer covers (same O(codes + dim) plan-size
    discipline as similarity._scores_sql)."""
    per_sub = []
    for s, codes in enumerate(consts):
        sl = f"slice({emb_col}, {s * dsub + 1}, {dsub})"
        per_sub.append(f"-array_max({_scores_sql(sl, codes)}).nc")
    return F.expr(f"array({', '.join(per_sub)})")


def _pq_cnorm_df(spark, consts) -> DataFrame:
    """(sub, code, c_nsq) DataFrame from driver constants — values are
    the Spark-evaluated exact norms, so broadcast-join consumers see the
    same bits the distributed cnorm aggregation produces."""
    return _values_df(
        spark,
        ["sub", "code", "c_nsq"],
        [
            (s, code, float(nsq))
            for s, codes in enumerate(consts)
            for code, _, nsq in codes
        ],
    )


def train_pq(
    df: DataFrame,
    n_subs: int = PQ_SUBS,
    n_codes: int = PQ_CODES,
    iters: int = PQ_ITERS,
    sample_mod: int = PQ_SAMPLE_MOD,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = DIM,
    sample: DataFrame | None = None,
) -> DataFrame:
    """Train all ``n_subs`` sub-quantizers in ONE grouped loop (not a
    per-sub Python loop — the sub-block id is just another group key, so
    every iteration is a single sample-sized job regardless of
    ``n_subs``).  Codebooks are driver metadata between iterations, the
    FAISS discipline: quantizers broadcast, only assignments stay
    distributed.  Returns ``(sub int, code int, pos int, c double)``.

    Duplicate-id discipline: the driver-side seed/means dicts are keyed
    on ``id_col`` values, so when the input carries the MOR row identity
    (``src_file``/``row_idx`` — the :func:`build_ivfpq_index` path) the
    SAMPLE is deduped to one physical row per id (smallest identity
    wins, deterministically) before seeding/training; a duplicated id
    would otherwise overwrite ``(sub, code, pos)`` entries in collect
    order and break bit-exact determinism.  Without identity columns,
    training assumes unique ids (assignment never does — see
    ``_rowkey`` in the index builders).

    ``sample``: a caller-owned, persisted :func:`.similarity.training_sample`
    frame (see :func:`.similarity.kmeans_centroids`); raises ``ValueError``
    unless it was drawn with this call's ``sample_mod``."""
    spark = df.sparkSession
    dsub = dim // n_subs
    # sample reused by the seed collect + one scan per iteration (same
    # rationale as kmeans_centroids: don't re-derive it from the corpus
    # iters+1 times).  ``sample`` (r15): a caller-owned pre-persisted
    # training_sample frame — build_ivfpq_index shares one cache between
    # its two trainers (same sample predicate by construction).
    caller_owned = sample is not None
    sdf = (
        _caller_sample(sample, sample_mod)
        if caller_owned
        else training_sample(df, sample_mod, id_col, emb_col).persist()
    )
    try:
        # seeds: the n_codes smallest sample ids — the same seed vector
        # feeds every sub-block, split by global position
        rows: dict[tuple[int, int, int], float] = {}
        for code, r in enumerate(
            sdf.orderBy(id_col).limit(n_codes).collect()
        ):
            for p, x in enumerate(r[emb_col]):
                rows[(p // dsub, code, p)] = float(x)
        for _ in range(iters):
            consts = _pq_consts(spark, rows)
            if consts is not None:
                # ONE job per iteration: inline nearest-code array, then
                # the (sub, code, pos) decimal mean — no assignment
                # shuffle, no sample join, no window
                enc = sdf.withColumn(
                    "_codes", _codes_col(emb_col, consts, dsub)
                )
                means = (
                    enc.select(
                        "_codes", F.posexplode(emb_col).alias("pos", "x")
                    )
                    .withColumn("sub", (F.col("pos") / dsub).cast("int"))
                    .select(
                        "sub",
                        F.element_at(
                            "_codes", F.col("sub") + F.lit(1)
                        ).alias("code"),
                        "pos",
                        F.col("x").cast("double").alias("xd"),
                    )
                    .groupBy("sub", "code", "pos")
                    .agg((_dsum("xd") / F.count("*")).alias("c"))
                )
            else:
                scomp = _comp_sub(sdf, id_col, emb_col, n_subs, dim)
                cdf = _values_df(
                    spark,
                    ["sub", "code", "pos", "c"],
                    [
                        (s, k, p, float(v))
                        for (s, k, p), v in sorted(rows.items())
                    ],
                )
                assign = assign_codes(scomp, cdf, id_col)
                means = (
                    scomp.join(assign, [id_col, "sub"])
                    .groupBy("sub", "code", "pos")
                    .agg((_dsum("xd") / F.count("*")).alias("c"))
                )
            new = {
                (r["sub"], r["code"], r["pos"]): r["c"]
                for r in means.collect()
            }
            refit = {(s, k) for s, k, _ in new}
            # empty codes carry their previous centroid (SQL twin:
            # COALESCE left join from the previous codebook)
            rows = {
                key: (new[key] if key[:2] in refit else old)
                for key, old in rows.items()
            }
    finally:
        if not caller_owned:
            sdf.unpersist()
    if not rows:
        return spark.createDataFrame(
            [], "sub int, code int, pos int, c double"
        )
    return _values_df(
        spark,
        ["sub", "code", "pos", "c"],
        [(s, k, p, float(v)) for (s, k, p), v in sorted(rows.items())],
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_subs: int = PQ_SUBS,
    dim: int = DIM,
) -> DataFrame:
    """Encode the corpus: ``(id, sub, code)`` — the compressed
    representation ADC search scans instead of raw embeddings."""
    consts = _pq_consts(df.sparkSession, codebook)
    if consts is not None:
        # ONE narrow projection + unpack: no explode-join, no shuffle,
        # no window (the literal fast path — bit-identical codes)
        return _spread(df.select(id_col, emb_col)).select(
            id_col,
            F.posexplode(
                _codes_col(emb_col, consts, dim // len(consts))
            ).alias("sub", "code"),
        )
    return assign_codes(
        _comp_sub(df, id_col, emb_col, n_subs, dim), codebook, id_col
    )


def _adc_tables(
    df: DataFrame,
    codebook: DataFrame,
    n_queries: int,
    id_col: str,
    emb_col: str,
    n_subs: int,
    dim: int,
):
    """The three tiny broadcast sides of an ADC search: ``lut``
    (query_id, sub, code, qdot) — partial dot of the exact query
    sub-vector against every centroid; ``cnorm`` (sub, code, c_nsq) —
    centroid norms; ``qn`` (query_id, q_nsq) — exact query norms."""
    qmask = F.col(id_col) < n_queries
    consts = _pq_consts(df.sparkSession, codebook)
    if consts is not None:
        # literal LUT: one narrow projection over the query rows (each
        # (sub, code) partial dot is the constant-vector exact dot
        # against the query's sub-slice) + an explode to the long form
        # the broadcast consumers join on — no codebook join, no shuffle
        dsub = dim // len(consts)
        per_sub = []
        for s, codes in enumerate(consts):
            sl = f"slice({emb_col}, {s * dsub + 1}, {dsub})"
            dot = _DOT_OVER_CB.format(col=sl)
            per_sub.append(
                f"transform({_cb_array_sql(codes)}, c -> "
                f"struct({s} AS sub, -c.nc AS code, {dot} AS qdot))"
            )
        lut = (
            df.where(qmask)
            .select(
                F.col(id_col).alias("query_id"),
                F.explode(
                    F.expr(f"flatten(array({', '.join(per_sub)}))")
                ).alias("e"),
            )
            .select("query_id", "e.sub", "e.code", "e.qdot")
        )
        cnorm = _pq_cnorm_df(df.sparkSession, consts)
    else:
        qcomp = _comp_sub(df.where(qmask), id_col, emb_col, n_subs, dim)
        lut = (
            qcomp.join(F.broadcast(codebook), ["sub", "pos"])
            .groupBy(
                F.col(id_col).alias("query_id"), F.col("sub"), F.col("code")
            )
            .agg(
                F.sum((F.col("xd") * F.col("c")).cast("decimal(28,20)"))
                .cast("double")
                .alias("qdot")
            )
        )
        cnorm = codebook.groupBy("sub", "code").agg(
            F.sum((F.col("c") * F.col("c")).cast("decimal(28,20)"))
            .cast("double")
            .alias("c_nsq")
        )
    qn = df.where(qmask).select(
        F.col(id_col).alias("query_id"),
        F.expr(normsq_expr(emb_col, duck=False, exact=True)).alias("q_nsq"),
    )
    return lut, cnorm, qn


def _adc_score_topk(
    cand: DataFrame, qn: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Final ADC scoring of candidate (query_id, id, dotq, xh_nsq) sums:
    approximate cosine + deterministic per-query top-k window."""
    scored = cand.join(F.broadcast(qn), "query_id").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            F.col("dotq") / (F.sqrt("q_nsq") * F.sqrt("xh_nsq")), 6
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def pq_adc_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    codebook: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_subs: int = PQ_SUBS,
    dim: int = DIM,
) -> DataFrame:
    """ADC top-k: approximate cosine between the EXACT query and each
    candidate's PQ reconstruction, computed entirely from per-query
    lookup tables — ``cos ~= sum_s lut[s][code_s] / (|q| * |xhat|)``
    where ``|xhat|^2 = sum_s |c_{s,code_s}|^2``.  The LUT and the
    code-norm table are ``n_queries x n_subs x n_codes`` /
    ``n_subs x n_codes`` rows — broadcast; the candidate side scans only
    the CODES table and partial-aggregates ``(query, candidate)`` sums
    map-side.  Output: ``(query_id, neighbor_id, cos_sim, rn)``."""
    if codebook is None:
        codebook = train_pq(
            df, n_subs, PQ_CODES, PQ_ITERS, PQ_SAMPLE_MOD, id_col, emb_col, dim
        )
    codes = pq_encode(df, codebook, id_col, emb_col, n_subs, dim)
    lut, cnorm, qn = _adc_tables(
        df, codebook, n_queries, id_col, emb_col, n_subs, dim
    )
    cand = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .join(F.broadcast(cnorm), ["sub", "code"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(
            _dsum("qdot").alias("dotq"),
            _dsum("c_nsq").alias("xh_nsq"),
        )
    )
    return _adc_score_topk(cand, qn, id_col, k)


def ivf_pq_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_probes: int = 2,
    coarse: DataFrame | None = None,
    codebook: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_subs: int = PQ_SUBS,
    dim: int = DIM,
) -> DataFrame:
    """IVFPQ — the full FAISS serving composition: the IVF coarse
    quantizer (:func:`.similarity.kmeans_centroids`) prunes candidates
    to each query's ``n_probes`` nearest cells, and ONLY those
    candidates are ADC-scored from their PQ codes.  The two quantizers
    are independent (coarse cells partition the corpus; sub-quantizers
    compress within it), so at 100 TB the search reads
    ``n_probes / n_cells`` of the CODES table — compressed
    representation AND pruned candidate set multiply.  Candidate
    pruning changes RESULTS vs :func:`pq_adc_topk` only when a true
    neighbor lives outside the probed cells — the recall/probe-cost
    trade the coarse quantizer always makes.
    Output: ``(query_id, neighbor_id, cos_sim, rn)``."""
    if coarse is None:
        coarse = kmeans_centroids(df, id_col=id_col, emb_col=emb_col)
    if codebook is None:
        codebook = train_pq(
            df, n_subs, PQ_CODES, PQ_ITERS, PQ_SAMPLE_MOD, id_col, emb_col, dim
        )
    qmask = F.col(id_col) < n_queries
    # corpus -> one cell each; queries -> their n_probes nearest cells
    # (assign_cells_fast: literal narrow projection under the codebook
    # budget, the distributed assign_cells pipeline above it)
    cells = assign_cells_fast(df, coarse, id_col, emb_col=emb_col)
    qcells = assign_cells_fast(
        df.where(qmask), coarse, id_col, top_p=n_probes, emb_col=emb_col
    ).withColumnRenamed(id_col, "query_id")
    codes = pq_encode(df, codebook, id_col, emb_col, n_subs, dim)
    lut, cnorm, qn = _adc_tables(
        df, codebook, n_queries, id_col, emb_col, n_subs, dim
    )
    # candidate pairs: cell-equi-join against the broadcast probe list —
    # a vector has exactly ONE cell, so multi-probe cannot duplicate a
    # candidate; then ADC-score only these pairs
    cand0 = (
        cells.join(F.broadcast(qcells), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )
    cand = (
        cand0.join(codes, id_col)
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .join(F.broadcast(cnorm), ["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(
            _dsum("qdot").alias("dotq"),
            _dsum("c_nsq").alias("xh_nsq"),
        )
    )
    return _adc_score_topk(cand, qn, id_col, k)


# -- persisted IVFPQ index (the serving sidecar) ------------------------------


def _encode_postings(
    df: DataFrame,
    coarse: DataFrame,
    book: DataFrame,
    id_col: str,
    emb_col: str,
    n_subs: int,
    dim: int,
) -> DataFrame:
    """Encode identity-bearing live rows into codes postings — the one
    pipeline both :func:`build_ivfpq_index` (full corpus) and
    :func:`maintain_ivfpq_index` (appended files only) run: coarse cell
    per row, PQ code per (row, sub-block), codes collected into one
    sub-ordered array (the packed-bytes stand-in), raw embeddings
    DROPPED.  Assignment is keyed on the MOR row identity ("file:idx" is
    injective — row_idx is numeric, so the suffix after the last ':' is
    unambiguous), never on ``id_col``: duplicate ids must not
    cross-join.  Output: ``(id, src_file, row_idx, codes, cell)``,
    repartitioned by cell for the hive-partitioned write."""
    spark = df.sparkSession
    keyed = _spread(df.select(id_col, emb_col, "src_file", "row_idx"))
    cc = _centroid_consts(spark, coarse)
    pc = _pq_consts(spark, book)
    if cc is not None and pc is not None:
        # literal fast path: cell tag and codes array are inline narrow
        # projections on the one corpus scan — no _rowkey joins, no
        # collect_list re-grouping, no assignment shuffles; duplicate
        # ids are trivially safe (nothing joins on anything)
        return (
            keyed.withColumn(
                "codes", _codes_col(emb_col, pc, dim // len(pc))
            )
            .withColumn(
                "cell", F.element_at(_best_cells_col(emb_col, cc), 1)
            )
            .drop(emb_col)
            .repartition("cell")
        )
    keyed = keyed.withColumn(
        "_rowkey", F.concat_ws(":", F.col("src_file"), F.col("row_idx"))
    )
    cells = assign_cells(_comp(keyed, "_rowkey", emb_col), coarse, "_rowkey")
    codes_long = assign_codes(
        _comp_sub(keyed, "_rowkey", emb_col, n_subs, dim), book, "_rowkey"
    )
    codes_arr = codes_long.groupBy("_rowkey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda x: x["code"],
        ).alias("codes")
    )
    return (
        keyed.drop(emb_col)
        .join(codes_arr, "_rowkey")
        .join(cells, "_rowkey")
        .drop("_rowkey")
        .repartition("cell")
    )


def _index_geometry(meta: dict, book: DataFrame) -> tuple[int, int]:
    """The persisted index's PQ geometry ``(n_subs, dim)``: the anchor's
    recorded build parameters, or — for anchors written before geometry
    was recorded — derived from the stored codebook itself
    (``max(sub)+1`` sub-quantizers; ``pos`` is GLOBAL, so the distinct
    position count IS the dimensionality)."""
    if "n_subs" in meta and "dim" in meta:
        return int(meta["n_subs"]), int(meta["dim"])
    geo = book.agg(
        (F.max("sub") + F.lit(1)).alias("ns"),
        F.countDistinct("pos").alias("d"),
    ).first()
    return int(geo["ns"]), int(geo["d"])


_IVFPQ = _Sidecar(
    "ivfpq",
    ("coarse", "codebook"),
    lambda df, books, meta, id_col, emb_col: _encode_postings(
        df, *books, id_col, emb_col, *_index_geometry(meta, books[1])
    ),
)


def build_ivfpq_index(
    spark,
    table_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    num_cells: int | None = None,
    n_subs: int = PQ_SUBS,
    n_codes: int = PQ_CODES,
    dim: int = DIM,
) -> int:
    """Persist a trained IVFPQ index as a table sidecar —
    ``<table>/_index/ivfpq/<emb_col>/{coarse,codebook,postings,meta.json}``,
    the FAISS ``IndexIVFPQ`` serving layout on the sidecar format of
    :func:`.similarity.build_ivf_index`:

    - ``coarse/`` — the k-means cell codebook (cells x dim);
    - ``codebook/`` — the PQ sub-quantizers (n_subs x n_codes x dsub);
    - ``postings/cell=<c>/`` — ``(id, codes array<int>, src_file,
      row_idx)``: the COMPRESSED representation only, so a probed
      cell's read is ~16x smaller than the IVF sidecar's embedding
      postings and the raw corpus is never touched at search time;
    - ``meta.json`` — the staleness anchor plus the PQ geometry
      (``n_subs``, ``n_codes``, ``dim``), from which the search derives
      its LUT shape.

    Both quantizers train on the deletion-vector-aware live rows.
    :func:`maintain_ivfpq_index` folds appends and deletion-vector
    batches in with the codebooks left immutable (the FAISS posture);
    retired files and quantizer drift are rebuild decisions.

    Returns the number of trained cells."""
    from concurrent.futures import ThreadPoolExecutor

    def train(df: DataFrame) -> list[DataFrame]:
        # The two trainings are INDEPENDENT (coarse cells partition the
        # corpus; sub-quantizers compress within it) and — with today's
        # module constants — draw the SAME hash sample, so: one shared
        # persisted sample, and the trainings overlap from a 2-thread
        # pool (each is a short chain of sample-sized jobs whose wall is
        # job count, not compute).  Results are bit-identical to the
        # sequential form: each training is a deterministic function of
        # the sample.
        shared = IVF_SAMPLE_MOD == PQ_SAMPLE_MOD
        sample = (
            training_sample(df, IVF_SAMPLE_MOD, id_col, emb_col).persist()
            if shared
            else None
        )
        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                coarse = pool.submit(
                    kmeans_centroids,
                    df,
                    num_cells or IVF_CELLS,
                    id_col=id_col,
                    emb_col=emb_col,
                    sample=sample,
                )
                book = pool.submit(
                    train_pq,
                    df,
                    n_subs,
                    n_codes,
                    PQ_ITERS,
                    PQ_SAMPLE_MOD,
                    id_col,
                    emb_col,
                    dim,
                    sample=sample,
                )
                return [coarse.result(), book.result()]
        finally:
            if sample is not None:
                sample.unpersist()

    # PQ geometry in the anchor: the search derives its LUT/unpack shape
    # from the INDEX, never from caller defaults — a build with
    # non-default n_subs would otherwise be silently mis-searched
    geometry = {"n_subs": int(n_subs), "n_codes": int(n_codes), "dim": int(dim)}
    return _IVFPQ.build(spark, table_path, emb_col, id_col, train, geometry)


def ivfpq_search_indexed(
    spark,
    table_path: str,
    n_queries: int = 10,
    k: int = 5,
    n_probes: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    allow_stale: bool = False,
    n_subs: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """ADC probe over a PERSISTED IVFPQ index: the shared sidecar query
    side (:func:`.similarity.ivf_search_indexed`'s) ranks each query's
    ``n_probes`` nearest cells and reads only those cells' codes, and
    candidates are scored from their stored CODES via the broadcast
    per-query LUT — raw embeddings are read for the query vectors only.

    The PQ geometry (``n_subs``/``dim``) comes from the INDEX — the
    anchor's recorded build geometry, or derived from the persisted
    codebook for pre-geometry anchors — never from caller defaults: a
    sidecar built with non-default ``n_subs`` would otherwise tag query
    components with wrong sub-block ids and the LUT join would silently
    drop every row.  Passing ``n_subs``/``dim`` explicitly is a cross-
    check only (mismatch with the index raises).

    Results are identical to :func:`ivf_pq_topk` with the same
    quantizers and ``n_probes``.  Refuses a stale index unless
    ``allow_stale``.  Output: ``(query_id, neighbor_id, cos_sim, rn)``."""
    books = _IVFPQ.codebooks(spark, table_path, emb_col)
    meta = _IVFPQ.meta(spark, table_path, emb_col)
    idx_subs, idx_dim = _index_geometry(meta, books[1])
    for name, asked, built in (("n_subs", n_subs, idx_subs), ("dim", dim, idx_dim)):
        if asked is not None and asked != built:
            raise ValueError(
                f"IVFPQ index under {_IVFPQ.root(table_path, emb_col)} was "
                f"built with {name}={built}, caller asked for {asked} — the "
                "index decides; rebuild to change geometry"
            )

    def score(p) -> DataFrame:
        lut, cnorm, _ = _adc_tables(
            p.queries, books[1], n_queries, id_col, emb_col, idx_subs, idx_dim
        )
        # NOT _spread over the candidates (an A/B measured 1.94 s vs 2.50 s
        # median at sf0.1): ADC scoring is LUT lookups — broadcast joins +
        # posexplode, none of the decimal-dot arithmetic _spread exists
        # to parallelize — and the decimal sums run after the (query,
        # candidate) groupBy shuffle, which redistributes regardless
        pairs = (
            p.cand.join(F.broadcast(p.cells.select("query_id", "cell")), "cell")
            .where(F.col(id_col) != F.col("query_id"))
            # unpack the stored code array: position IS the sub-block id
            # (codes were collected ordered by sub at build time)
            .select(
                "query_id", id_col, F.posexplode("codes").alias("sub", "code")
            )
        )
        cand = (
            pairs.join(F.broadcast(lut), ["query_id", "sub", "code"])
            .join(F.broadcast(cnorm), ["sub", "code"])
            .groupBy("query_id", id_col)
            .agg(
                _dsum("qdot").alias("dotq"),
                _dsum("c_nsq").alias("xh_nsq"),
            )
        )
        return _adc_score_topk(cand, p.norms, id_col, k)

    return _IVFPQ.search(
        spark,
        table_path,
        score,
        n_queries=n_queries,
        n_probes=n_probes,
        id_col=id_col,
        emb_col=emb_col,
        allow_stale=allow_stale,
        cols=("codes",),
        books=books,
        meta=meta,
    )


def ivf_pq_refine_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    refine: int = 20,
    n_probes: int = 2,
    coarse: DataFrame | None = None,
    codebook: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_subs: int = PQ_SUBS,
    dim: int = DIM,
) -> DataFrame:
    """Refined IVFPQ search — the FAISS ``IndexRefineFlat`` shape: the
    quantized index does the RECALL work (ADC-approximate top-``refine``
    candidates per query via :func:`ivf_pq_topk`), then those few
    survivors are re-scored EXACTLY from their raw embeddings and the
    final top-``k`` ranks on true cosines.  This is the standard
    serving trade at 100 TB: the corpus-sized read stays on the
    16x-compressed codes (pruned to probed cells), while the
    expensive exact arithmetic touches only ``n_queries x refine``
    rows — the re-rank join broadcasts the candidate-pair list
    (metadata scale) against ONE column-pruned corpus scan, so raw
    embeddings never shuffle.  ``refine`` is the precision knob:
    ``refine = k`` returns ADC ORDER with exact scores; larger
    ``refine`` recovers neighbors ADC misranked (with all cells probed
    and ``refine >= corpus``, the result IS the exact brute-force
    top-k).  Output: ``(query_id, neighbor_id, cos_sim, rn)`` with
    EXACT cosines."""
    if refine < k:
        raise ValueError(f"refine ({refine}) must be >= k ({k})")
    approx = ivf_pq_topk(
        df, n_queries, refine, n_probes, coarse, codebook, id_col,
        emb_col, n_subs, dim,
    )
    cand = approx.select("query_id", "neighbor_id")
    e = with_norm(df.select(id_col, emb_col), emb_col, exact=True)
    q = e.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    pairs = (
        e.join(F.broadcast(cand), F.col(id_col) == F.col("neighbor_id"))
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "dot", F.expr(dot_expr("q_emb", emb_col, duck=False, exact=True))
        )
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / (F.sqrt("q_nsq") * F.sqrt("nsq")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def maintain_ivfpq_index(
    spark,
    table_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    lock_wait_seconds: float = 30.0,
) -> dict:
    """Fold table drift into the persisted IVFPQ index without
    retraining either quantizer — the same maintenance fold as
    :func:`.similarity.maintain_ivf_index` (one stage-then-swap, crash
    and lock discipline for both sidecars):

    - **added data files** append their live rows to the codes postings,
      encoded with the PERSISTED coarse + PQ codebooks (codebook
      immutability is the FAISS serving contract: recall drifts with the
      distribution, the index never silently retrains);
    - **added deletion-vector batches** REMOVE their tombstoned rows via
      the precise ``(src_file, row_idx)`` anti-join, rewriting ONLY the
      affected cells' partitions — and the code bytes are ~16x smaller
      than the IVF sidecar's embedding postings;
    - **retired/rewritten files** (compaction, materialize) still demand
      a rebuild, as do crashed-maintain debris and a postings/anchor
      count mismatch.

    Returns ``{"appended": n, "removed": n, "cells_rewritten": n}``."""
    return _IVFPQ.maintain(spark, table_path, emb_col, id_col, lock_wait_seconds)
