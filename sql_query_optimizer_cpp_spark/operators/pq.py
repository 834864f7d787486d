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
from .similarity import DIM, normsq_expr

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
    from .similarity import _const_normsq, _lit_assign_budget

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
    from .similarity import _scores_sql

    per_sub = []
    for s, codes in enumerate(consts):
        sl = f"slice({emb_col}, {s * dsub + 1}, {dsub})"
        per_sub.append(f"-array_max({_scores_sql(sl, codes)}).nc")
    return F.expr(f"array({', '.join(per_sub)})")


def _pq_cnorm_df(spark, consts) -> DataFrame:
    """(sub, code, c_nsq) DataFrame from driver constants — values are
    the Spark-evaluated exact norms, so broadcast-join consumers see the
    same bits the distributed cnorm aggregation produces."""
    from .similarity import _values_df

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
    from .similarity import _caller_sample, training_sample

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
                from .similarity import _values_df

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
    from .similarity import _values_df

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
    from .similarity import _DOT_OVER_CB, _cb_array_sql

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
    from .similarity import assign_cells_fast, kmeans_centroids

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


def _ivfpq_root(table_path: str, emb_col: str) -> str:
    return f"{table_path.rstrip('/')}/_index/ivfpq/{emb_col}"


def _ivfpq_meta(spark, table_path: str, emb_col: str) -> dict:
    """Staleness anchor for the IVFPQ sidecar — same contract as the
    IVF anchor (:func:`.similarity._ivf_meta`): a usable index without
    one is crash debris, so raise and demand a rebuild."""
    import json

    from .mutate import _is_missing_file_error, _read_small_file

    root = _ivfpq_root(table_path, emb_col)
    try:
        return json.loads(_read_small_file(spark, f"{root}/meta.json"))
    except Exception as e:  # noqa: BLE001 — classify below
        if _is_missing_file_error(e):
            raise ValueError(
                f"IVFPQ index under {root} has no staleness anchor "
                "(meta.json) — crash debris; rebuild with "
                "build_ivfpq_index"
            ) from e
        raise


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
    from .similarity import _best_cells_col, _centroid_consts, _comp, assign_cells

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
    ``<table>/_index/ivfpq/<emb_col>/{coarse,codebook,postings}`` — the
    FAISS ``IndexIVFPQ`` serving layout on the lakehouse sidecar
    conventions of :func:`.similarity.build_ivf_index` (underscore dir,
    invisible to base scans, advisory-locked writes, staleness anchor):

    - ``coarse/`` — the k-means cell codebook (cells x dim);
    - ``codebook/`` — the PQ sub-quantizers (n_subs x n_codes x dsub);
    - ``postings/cell=<c>/`` — hive partitions holding ``(id, codes
      array<int>, src_file, row_idx)``: the COMPRESSED representation
      only.  This is the 100 TB difference from the IVF sidecar, whose
      postings carry full embeddings: a probed cell's read here is
      ~16x smaller (16 small ints vs 64 floats per vector), and the
      raw corpus is never touched at search time.

    Both quantizers train on the deletion-vector-aware live rows; cell
    assignment and code assignment are keyed on the MOR row identity
    (same duplicate-id discipline as the IVF build).  Maintenance:
    :func:`maintain_ivfpq_index` folds appends and deletion-vector
    batches in incrementally (codebooks stay immutable — the FAISS
    posture); retired/rewritten files still demand a rebuild, and so
    does quantizer DRIFT (a distribution shift is a retrain decision,
    never an automatic fold).

    Returns the number of live cells."""
    from .mor import _live, _read_dv, _with_identity, list_dv_files
    from .mutate import (
        _fs,
        _rel_to_table,
        _write_small_file,
        _writer_lock,
        is_partitioned,
        list_data_files,
    )
    from .similarity import (
        IVF_CELLS,
        IVF_SAMPLE_MOD,
        _rename_identity,
        kmeans_centroids,
        training_sample,
    )

    num_cells = num_cells or IVF_CELLS
    data_files = list_data_files(spark, table_path, recursive=True)
    dv_files = list_dv_files(spark, table_path)
    built_from = sorted(
        _rel_to_table(table_path, f) for f in data_files + dv_files
    )
    base_path = table_path if is_partitioned(spark, table_path) else None
    df = _rename_identity(
        _live(
            _with_identity(spark, table_path, data_files, base_path),
            _read_dv(spark, table_path),
        )
    )
    # The two quantizer trainings are INDEPENDENT (coarse cells partition
    # the corpus; sub-quantizers compress within it) and — with today's
    # module constants — draw the SAME hash sample (id % 3 == 0), so:
    # one shared persisted sample (guide §5: don't materialize the
    # identical frame twice) and the trainings overlap from a 2-thread
    # pool (guide §2.6: independent jobs back-fill each other's per-job
    # scheduling floor — each training is a short chain of sample-sized
    # jobs whose wall here is job count, not compute).  Results are
    # bit-identical to the sequential form: each training is a
    # deterministic function of the sample, and nothing below reads
    # shared mutable state.
    from concurrent.futures import ThreadPoolExecutor

    shared = IVF_SAMPLE_MOD == PQ_SAMPLE_MOD
    sample = (
        training_sample(df, IVF_SAMPLE_MOD, id_col, emb_col).persist()
        if shared
        else None
    )
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_coarse = pool.submit(
                kmeans_centroids,
                df,
                num_cells,
                id_col=id_col,
                emb_col=emb_col,
                sample=sample,
            )
            f_book = pool.submit(
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
            coarse = f_coarse.result()
            book = f_book.result()
    finally:
        if sample is not None:
            sample.unpersist()
    root = _ivfpq_root(table_path, emb_col)
    jvm, fs, root_p = _fs(spark, root)
    if not fs.exists(root_p):
        fs.mkdirs(root_p)
    with _writer_lock(spark, root, 30.0):
        # the two codebook writes are independent single-file jobs —
        # overlap them too (same §2.6 floor argument)
        with ThreadPoolExecutor(max_workers=2) as pool:
            w1 = pool.submit(
                lambda: coarse.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{root}/coarse")
            )
            w2 = pool.submit(
                lambda: book.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{root}/codebook")
            )
            w1.result()
            w2.result()
        coarse_rt = spark.read.parquet(f"{root}/coarse")
        book_rt = spark.read.parquet(f"{root}/codebook")
        # a crashed maintain_ivfpq_index leaves _maintain_* stage/trash
        # dirs as its loud tripwire; a rebuild supersedes them — sweep
        # so the debris check doesn't refuse forever after the rebuild
        for st in fs.listStatus(root_p):
            if st.getPath().getName().startswith("_maintain_"):
                fs.delete(st.getPath(), True)
        postings = _encode_postings(
            df, coarse_rt, book_rt, id_col, emb_col, n_subs, dim
        )
        postings.write.partitionBy("cell").mode("overwrite").parquet(
            f"{root}/postings"
        )
        import json

        n_vectors = spark.read.parquet(f"{root}/postings").count()
        _write_small_file(
            spark,
            f"{root}/meta.json",
            json.dumps(
                {
                    "files": built_from,
                    "n_vectors": n_vectors,
                    # PQ geometry: the search path derives its LUT/unpack
                    # shape from the INDEX, never from caller defaults — a
                    # build with non-default n_subs would otherwise be
                    # silently mis-searched (wrong sub tags drop every LUT
                    # join row, empty results, no error)
                    "n_subs": int(n_subs),
                    "n_codes": int(n_codes),
                    "dim": int(dim),
                },
                indent=0,
            ).encode(),
        )
    return coarse_rt.select("cell").distinct().count()


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
    """ADC probe over a PERSISTED IVFPQ index: queries (read through the
    deletion vectors) rank their ``n_probes`` nearest cells with the
    persisted coarse codebook, the candidate read lists ONLY those
    cells' directories (the partition-pruned serving read of
    :func:`.similarity.ivf_search_indexed`), and candidates are scored
    from their stored CODES via the broadcast per-query LUT — raw
    embeddings are read for the ``n_queries`` query vectors only.

    The PQ geometry (``n_subs``/``dim``) comes from the INDEX — the
    anchor's recorded build geometry, or derived from the persisted
    codebook for pre-geometry anchors — never from caller defaults: a
    sidecar built with non-default ``n_subs`` would otherwise tag query
    components with wrong sub-block ids and the LUT join would silently
    drop every row.  Passing ``n_subs``/``dim`` explicitly is a cross-
    check only (mismatch with the index raises).

    Results are identical to :func:`ivf_pq_topk` with the same
    quantizers and ``n_probes``.  Staleness gate: any table drift since
    build refuses (rebuild, or :func:`maintain_ivfpq_index` for
    append/DV-shaped drift; ``allow_stale=True`` opts into the indexed
    subset).  Output: ``(query_id, neighbor_id, cos_sim, rn)``."""
    from .mor import read_mor
    from .mutate import _is_missing_file_error
    from .similarity import _table_file_set, assign_cells_fast

    if n_probes < 1:
        raise ValueError("n_probes must be >= 1")
    root = _ivfpq_root(table_path, emb_col)
    try:
        coarse = spark.read.parquet(f"{root}/coarse")
        book = spark.read.parquet(f"{root}/codebook")
    except Exception as e:  # noqa: BLE001 — classify below
        # only an ABSENT index is a "build it first" user error; a
        # permission fault or corrupt file must keep its real cause
        if _is_missing_file_error(e):
            raise ValueError(
                f"no IVFPQ index under {root} — run build_ivfpq_index "
                "first"
            ) from e
        raise
    meta = _ivfpq_meta(spark, table_path, emb_col)
    idx_subs, idx_dim = _index_geometry(meta, book)
    if n_subs is not None and n_subs != idx_subs:
        raise ValueError(
            f"IVFPQ index under {root} was built with n_subs={idx_subs}, "
            f"caller asked for {n_subs} — the index decides; rebuild to "
            "change geometry"
        )
    if dim is not None and dim != idx_dim:
        raise ValueError(
            f"IVFPQ index under {root} was built with dim={idx_dim}, "
            f"caller asked for {dim} — the index decides; rebuild to "
            "change geometry"
        )
    n_subs, dim = idx_subs, idx_dim
    if not allow_stale:
        now = _table_file_set(spark, table_path)
        if now != set(meta["files"]):
            raise ValueError(
                f"IVFPQ index under {root} is STALE: the table's file "
                "set (data + deletion-vector batches) changed since "
                "build_ivfpq_index — maintain_ivfpq_index folds "
                "appended files AND deletion-vector batches in "
                "incrementally (rebuild only for retired files), or "
                "pass allow_stale=True to search the indexed subset "
                "anyway"
            )
    qbase = (
        read_mor(spark, table_path)
        .select(id_col, emb_col)
        .where(F.col(id_col) < n_queries)
    )
    # Collect the query-side metadata ONCE (n_queries rows — the same
    # driver round-trip the probed-cell pruning below always paid) and
    # re-inject it as VALUES LocalRelations: one job computes each
    # query's n_probes nearest cells AND its exact norm, so the final
    # candidate job's broadcast sides carry literal rows instead of
    # re-running the assignment/norm subtrees (query scan + literal
    # scoring) inside their BroadcastExchanges.  All values are
    # Spark-evaluated (the literal-codebook exact arithmetic), so the
    # VALUES round-trip is bit-identical by the repr discipline.
    from .similarity import _best_cells_col, _centroid_consts

    cc = _centroid_consts(spark, coarse)
    qn_rows: list[tuple[int, float]] | None = None
    if cc is not None:
        qrows = qbase.select(
            F.col(id_col).alias("query_id"),
            _best_cells_col(emb_col, cc, n_probes).alias("cells"),
            F.expr(normsq_expr(emb_col, duck=False, exact=True)).alias(
                "q_nsq"
            ),
        ).collect()
        q_rows = [
            (int(r["query_id"]), int(c)) for r in qrows for c in r["cells"]
        ]
        qn_rows = [
            (
                int(r["query_id"]),
                None if r["q_nsq"] is None else float(r["q_nsq"]),
            )
            for r in qrows
        ]
    else:
        # over-budget codebook: the distributed assignment pipeline (the
        # fallback the literal path is pinned equal to); norms stay a
        # lazy broadcast subtree inside the final job
        q_rows = [
            (int(r["query_id"]), int(r["cell"]))
            for r in assign_cells_fast(
                qbase, coarse, id_col, top_p=n_probes, emb_col=emb_col
            )
            .withColumnRenamed(id_col, "query_id")
            .collect()
        ]
    probed = sorted({c for _, c in q_rows})
    post_root = f"{root}/postings"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(post_root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    existing = {
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(jpath)
        if st.isDirectory() and st.getPath().getName().startswith("cell=")
    }
    probed = [c for c in probed if c in existing]
    if not probed:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    from ..functions import values_df

    q_cells = values_df(spark, "query_id bigint, cell int", q_rows)
    lut, cnorm, qn = _adc_tables(
        qbase, book, n_queries, id_col, emb_col, n_subs, dim
    )
    if qn_rows is not None:
        qn = values_df(spark, "query_id bigint, q_nsq double", qn_rows)
    # NOT _spread here (r15 A/B: 1.94 s vs 2.50 s median at sf0.1): ADC
    # candidate scoring is LUT lookups — broadcast joins + posexplode,
    # none of the heavy decimal-dot arithmetic _spread exists to
    # parallelize (contrast ivf_search_indexed, whose candidates each
    # pay an exact 64-dim decimal dot and keep the spread) — and the
    # decimal sums run after the (query, candidate) groupBy shuffle,
    # which redistributes regardless.  At scale the probed cells' files
    # split naturally; locally the gate would fire and add a pure-waste
    # shuffle of the codes.
    cand_rows = (
        spark.read.option("basePath", post_root)
        .parquet(*[f"{post_root}/cell={c}" for c in probed])
        .withColumn("cell", F.col("cell").cast("int"))
        # prune the identity columns out of the scan: the probe needs
        # only (id, codes, cell)
        .select(id_col, "codes", "cell")
    )
    pairs = (
        cand_rows.join(F.broadcast(q_cells), "cell")
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
    return _adc_score_topk(cand, qn, id_col, k)


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
    from .similarity import dot_expr, with_norm

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


def _read_ivfpq_postings(spark, root: str):
    """Load the codes postings persisted by :func:`build_ivfpq_index`
    (None only when ABSENT — a permission fault or corrupt file keeps
    its real cause instead of masquerading as "no index"), ``cell``
    read back as INT so probe filters prune partitions — the IVFPQ twin
    of :func:`.similarity.read_ivf_postings`."""
    from .mutate import _is_missing_file_error

    try:
        df = spark.read.parquet(f"{root}/postings")
        return df.withColumn("cell", F.col("cell").cast("int"))
    except Exception as e:  # noqa: BLE001 — classify below
        if _is_missing_file_error(e):
            return None
        raise


def _append_files_to_codes(
    spark, table_path: str, root: str, added_data: list[str], id_col: str,
    emb_col: str,
) -> None:
    """Encode the added files' LIVE rows with the PERSISTED quantizers
    and append them — with their MOR row identity — to the codes
    postings.  Codebooks are read INSIDE the maintain lock (the caller
    holds it) and never retrained: appends cost O(new-file bytes), and
    whether accumulated drift warrants a retrain is an explicit
    :func:`build_ivfpq_index` decision, not something a maintenance
    fold should silently make.  The read goes through the deletion
    vectors so a file whose rows were tombstoned in the same commit
    that added it (the dv_update shape) never indexes dead rows."""
    from .mor import _live, _read_dv, _with_identity
    from .mutate import is_partitioned
    from .similarity import _rename_identity

    coarse = spark.read.parquet(f"{root}/coarse")
    book = spark.read.parquet(f"{root}/codebook")
    n_subs, dim = _index_geometry(
        _ivfpq_meta(spark, table_path, emb_col), book
    )
    base_path = table_path if is_partitioned(spark, table_path) else None
    new_df = _rename_identity(
        _live(
            _with_identity(
                spark,
                table_path,
                [f"{table_path.rstrip('/')}/{f}" for f in added_data],
                base_path,
            ),
            _read_dv(spark, table_path),
        )
    )
    postings_new = _encode_postings(
        new_df, coarse, book, id_col, emb_col, n_subs, dim
    )
    postings_new.write.partitionBy("cell").mode("append").parquet(
        f"{root}/postings"
    )


def maintain_ivfpq_index(
    spark,
    table_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    lock_wait_seconds: float = 30.0,
) -> dict:
    """Fold table drift into the persisted IVFPQ index without
    retraining either quantizer — the quantized twin of
    :func:`.similarity.maintain_ivf_index`, running the SAME maintenance
    fold (:func:`.similarity._maintain_locked` — one implementation of
    the stage-then-swap/crash/lock discipline, two sidecars):

    - **added data files** append their live rows to the codes postings,
      encoded with the PERSISTED coarse + PQ codebooks (codebook
      immutability is the FAISS serving contract: recall drifts with the
      distribution, the index never silently retrains — rebuild when YOU
      decide the drift warrants it);
    - **added deletion-vector batches** REMOVE their tombstoned rows via
      the precise ``(src_file, row_idx)`` anti-join — broadcast only
      when the batches' on-disk bytes fit the session's
      autoBroadcastJoinThreshold (a bulk delete's tombstone set
      shuffle-joins) — rewriting ONLY the affected cells' hive
      partitions via stage-then-swap;
    - **retired/rewritten files** (compaction, materialize) still demand
      a rebuild, as do crashed-maintain debris and a postings/anchor
      count mismatch.

    At 100 TB this is the steady-state story for the QUANTIZED serving
    index: a delete trickle costs O(tombstones + affected-cell CODE
    bytes) — and the code bytes are ~16x smaller than the IVF sidecar's
    embedding postings, so the same fold rewrites ~16x fewer bytes.

    Crash discipline: the staleness anchor advances LAST; old cell
    partitions are trashed, never deleted, until it commits.  The whole
    pass runs under the INDEX-scoped advisory lock (never contends with
    table writers, only other maintains/rebuilds of THIS sidecar).

    Returns ``{"appended": n, "removed": n, "cells_rewritten": n}``."""
    from .mutate import _writer_lock
    from .similarity import _maintain_locked

    root = _ivfpq_root(table_path, emb_col)
    if _read_ivfpq_postings(spark, root) is None:
        raise ValueError(
            f"no IVFPQ index under {root} — run build_ivfpq_index first"
        )
    with _writer_lock(spark, root, lock_wait_seconds):
        return _maintain_locked(
            spark,
            table_path,
            emb_col,
            id_col,
            root,
            kind="IVFPQ",
            rebuild_with="build_ivfpq_index",
            read_postings=lambda: _read_ivfpq_postings(spark, root),
            meta_reader=lambda: _ivfpq_meta(spark, table_path, emb_col),
            append_files=lambda added: _append_files_to_codes(
                spark, table_path, root, added, id_col, emb_col
            ),
        )
