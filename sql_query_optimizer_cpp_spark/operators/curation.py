"""Corpus-curation operators: stratified sampling, sequence packing, and a
composite quality-filter pipeline.

These are the training-data-pipeline steps that sit AFTER dedup/quality
scoring and BEFORE the trainer: rebalance languages/sources with a
deterministic sample, decide keep/drop with auditable reasons, and pack
documents into fixed context windows.  The reference engine has no analog
(it stops at SQL rewriting); these extend the LLM-pipeline surface the
driver mandates.

All pure built-in expressions (JVM-side, whole-stage codegen):

- **stratified_sample**: keep a row iff ``hash64(seed‖id) mod 10_000 <
  rate·10_000`` with a per-stratum rate.  Hash-based (not ``rand()``) so
  the sample is deterministic, reproducible across engines/runs, and
  stable under repartitioning — the property a 100 TB pipeline needs so
  re-runs and backfills select the same rows.  No shuffle at all: the
  filter is map-side; skew-free since the hash is uniform per id.
- **pack_sequences**: GPT-style concat-and-chop packing.  Docs are
  concatenated in id order within a shard; a window cumsum assigns each
  doc the context bin where its first token lands (``bin = floor(start /
  ctx)``).  One shuffle on (shard); each shard's window sorts locally.
  At 100 TB, shard count is the parallelism knob (pick ~10k shards so a
  shard's docs fit an executor's sort buffer).
- **quality_filter**: composite keep/drop with a first-failing-rule
  reason column, composed from the text-analysis operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hash64, hash64_sql
from .dedup import _persist_tracked, doc_shingles, shingles_sql
from .text import (
    lang_id,
    lang_id_sql,
    quality_score,
    quality_score_sql,
    token_count,
    token_count_sql,
)

SAMPLE_MOD = 10_000


def sample_bucket(id_col: str = "doc_id", seed: str = "strat:") -> Column:
    """Deterministic per-row bucket in [0, 10000) from the seeded 60-bit
    content hash of the id — the cross-engine-portable analog of
    ``rand()`` for sampling decisions."""
    return F.pmod(hash64(F.col(id_col).cast("string"), seed=seed), F.lit(SAMPLE_MOD))


def sample_bucket_sql(id_expr: str = "doc_id", seed: str = "strat:") -> str:
    return f"({hash64_sql(f'CAST({id_expr} AS VARCHAR)', seed=seed)} % {SAMPLE_MOD})"


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    seed: str = "strat:",
    passthrough: bool = False,
) -> DataFrame:
    """Deterministic stratified sample: keep a row iff its hash bucket falls
    under its stratum's rate.  Output keeps (id, stratum, sample_bucket)
    so the decision is auditable; ``passthrough=True`` keeps every input
    column instead (plus sample_bucket) so the sample composes into a
    longer pipeline without a join-back on the id."""
    rates = rates or {}
    # round(), not int(): 0.29 * 10000 is 2899.999... in FP and int()
    # truncation would systematically exclude one bucket (0.01% of the
    # stratum) from every non-FP-exact rate
    rate = F.lit(round(default_rate * SAMPLE_MOD))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(round(r * SAMPLE_MOD))).otherwise(
            rate
        )
    bucket = sample_bucket(id_col, seed)
    out = df.withColumn("sample_bucket", bucket).filter(
        F.col("sample_bucket") < rate
    )
    if passthrough:
        return out
    return out.select(id_col, strata_col, "sample_bucket")


def stratified_sample_sql(
    table: str = "documents",
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    id_expr: str = "doc_id",
    seed: str = "strat:",
) -> str:
    """DuckDB twin of :func:`stratified_sample` (same hash, same buckets)."""
    rates = rates or {}
    branches = " ".join(
        f"WHEN {strata_col} = '{v}' THEN {round(r * SAMPLE_MOD)}"
        for v, r in sorted(rates.items())
    )
    # with no per-stratum rates a bare CASE ELSE is a DuckDB parser
    # error — emit the plain literal, like the Spark twin does
    rate = (
        f"(CASE {branches} ELSE {round(default_rate * SAMPLE_MOD)} END)"
        if branches
        else str(round(default_rate * SAMPLE_MOD))
    )
    bucket = sample_bucket_sql(id_expr, seed)
    return (
        f"SELECT {id_expr}, {strata_col}, {bucket} AS sample_bucket "
        f"FROM {table} WHERE {bucket} < {rate}"
    )


def sample_fixed_k(
    df: DataFrame,
    strata_col: str = "lang",
    k: int = 100,
    id_col: str = "doc_id",
    seed: str = "fixk:",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum — the budgeted
    counterpart of :func:`stratified_sample` (which keeps a *fraction*).
    Deterministic: rows are ranked by the portable 60-bit hash of their id
    (ties broken by id), so re-runs, backfills, and both engines pick the
    same rows — a distributed reservoir sample without the randomness.

    One shuffle on the stratum key.  For a stratum so large its partition
    can't sort in memory, pre-thin with ``stratified_sample`` at a rate
    that over-samples k (e.g. keep ~10k hash buckets) and rank the
    survivors — same result whenever the pre-filter keeps >= k rows,
    because the rank order is the same hash.

    Output: (id, stratum, pos) with pos 1..k.
    """
    w = W.partitionBy(strata_col).orderBy(
        hash64(F.col(id_col).cast("string"), seed=seed), id_col
    )
    return (
        df.select(id_col, strata_col)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= k)
    )


def sample_fixed_k_sql(
    table: str = "documents",
    strata_col: str = "lang",
    k: int = 100,
    id_expr: str = "doc_id",
    seed: str = "fixk:",
) -> str:
    """DuckDB twin of :func:`sample_fixed_k` (same hash, same ranks)."""
    h = hash64_sql(f"CAST({id_expr} AS VARCHAR)", seed=seed)
    return (
        f"SELECT {id_expr}, {strata_col}, pos FROM ("
        f"  SELECT {id_expr}, {strata_col}, "
        f"         CAST(row_number() OVER (PARTITION BY {strata_col} "
        f"              ORDER BY {h}, {id_expr}) AS BIGINT) AS pos "
        f"  FROM {table}) ranked "
        f"WHERE pos <= {k}"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    ctx: int = 2048,
    carry_cols: tuple[str, ...] = (),
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-and-chop sequence packing: within a shard (``id mod
    n_shards``), documents are laid out in id order and chopped into
    ``ctx``-token context windows; each doc is labeled with the bin where
    its first token lands and its offset inside that bin.

    Output: (doc_id, shard, n_tokens, bin_id, bin_offset) — all BIGINT —
    plus any ``carry_cols`` passed through unchanged (rides the same
    window shuffle; saves a join-back when a downstream stage needs, say,
    the language label alongside the packing assignment).

    ``n_tokens_col`` (r15): the name of a PRECOMPUTED token-count column
    to use instead of re-deriving ``token_count(text_col)`` here — lets
    an upstream stage count tokens map-side and drop the text payload
    before its own shuffle (guide §2.3: the count is 8 bytes, the text
    is the corpus).  Identical output by construction when the column
    was computed as ``token_count`` of the same text.
    """
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    n_tokens = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col is not None
        else token_count(text_col)
    )
    toks = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        n_tokens.alias("n_tokens"),
        *[F.col(c) for c in carry_cols],
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        toks.withColumn("start", start)
        .select(
            id_col,
            "shard",
            "n_tokens",
            F.floor(F.col("start") / ctx).alias("bin_id"),
            (F.col("start") % ctx).alias("bin_offset"),
            *carry_cols,
        )
    )


def pack_sequences_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    n_shards: int = 8,
    ctx: int = 2048,
) -> str:
    """DuckDB twin of :func:`pack_sequences`."""
    return f"""
WITH toks AS (
  SELECT {id_expr}, {id_expr} % {n_shards} AS shard,
         {token_count_sql(text_expr)} AS n_tokens
  FROM {table}),
laid AS (
  SELECT {id_expr}, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY {id_expr}
             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM toks)
SELECT {id_expr}, shard, n_tokens,
       CAST(floor(CAST(start AS DOUBLE) / {ctx}) AS BIGINT) AS bin_id,
       CAST(start % {ctx} AS BIGINT) AS bin_offset
FROM laid
"""


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    min_score: float = 0.5,
    langs: tuple[str, ...] = ("en", "es", "de", "fr"),
    passthrough: bool = False,
) -> DataFrame:
    """Composite keep/drop decision with a first-failing-rule reason —
    the auditable filter a curation pipeline applies before training.

    Rules in order: too_short (token count), low_quality (composite
    score), lang_not_allowed (heuristic lang-id outside the allowlist).
    Output: (doc_id, keep, reason) with reason 'ok' for kept rows;
    ``passthrough=True`` keeps every input column too, so the next
    pipeline stage filters in place instead of joining back on the id
    (which would re-scan the corpus and re-evaluate these expressions).
    """
    n = token_count(text_col)
    q = quality_score(text_col)
    lid = lang_id(text_col)
    # NULL text first: every later condition evaluates to NULL on it and
    # CASE would fall through to 'ok' — a corrupt document sailing
    # through the quality gate (review finding; the SQL twin mirrors it)
    reason = (
        F.when(F.col(text_col).isNull(), F.lit("null_text"))
        .when(n < min_tokens, F.lit("too_short"))
        .when(q < min_score, F.lit("low_quality"))
        .when(~lid.isin(*langs), F.lit("lang_not_allowed"))
        .otherwise(F.lit("ok"))
    )
    if passthrough:
        return df.withColumn("reason", reason).withColumn(
            "keep", F.col("reason") == "ok"
        )
    return df.select(
        F.col(id_col),
        reason.alias("reason"),
    ).withColumn("keep", F.col("reason") == "ok")


def quality_filter_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    min_tokens: int = 20,
    min_score: float = 0.5,
    langs: tuple[str, ...] = ("en", "es", "de", "fr"),
) -> str:
    """DuckDB twin of :func:`quality_filter`."""
    lang_list = ", ".join(f"'{l}'" for l in langs)
    reason = (
        f"(CASE WHEN {text_expr} IS NULL THEN 'null_text' "
        f"WHEN {token_count_sql(text_expr)} < {min_tokens} THEN 'too_short' "
        f"WHEN {quality_score_sql(text_expr)} < {min_score} THEN 'low_quality' "
        f"WHEN {lang_id_sql(text_expr)} NOT IN ({lang_list}) THEN 'lang_not_allowed' "
        f"ELSE 'ok' END)"
    )
    return (
        f"SELECT {id_expr}, {reason} AS reason, {reason} = 'ok' AS keep "
        f"FROM {table}"
    )


def decontaminate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_mod: int = 97,
    min_shared: int = 2,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: docs whose id ≡ 0 (mod ``probe_mod``)
    stand in for the held-out benchmark split; every training doc sharing
    ≥ ``min_shared`` distinct n-gram shingles with any probe doc is
    flagged (the n-gram-overlap decontamination rule used for LLM
    training corpora).

    Shape for scale: the probe side is a tiny fraction of the corpus →
    broadcast; candidate generation is an equi-join on the shingle (the
    same bucketed-join discipline as the dedup pipelines — never a cross
    join); one final map-side-combinable aggregation per flagged doc.

    Output: (doc_id, n_shared_shingles, n_probe_docs).
    """
    # both join sides derive from the same explode + distinct — persist
    # it once or Catalyst recomputes the corpus-wide shuffle per consumer
    # (the same fix the dedup pipelines already carry)
    ex = _persist_tracked(doc_shingles(df, id_col, text_col, n))
    probes = ex.filter(F.col(id_col) % probe_mod == 0).select(
        F.col(id_col).alias("probe_id"), "s"
    )
    train = ex.filter(F.col(id_col) % probe_mod != 0)
    return (
        train.join(F.broadcast(probes), "s")
        .groupBy(id_col)
        .agg(
            F.countDistinct("s").cast("long").alias("n_shared_shingles"),
            F.countDistinct("probe_id").cast("long").alias("n_probe_docs"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


def decontaminate_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    probe_mod: int = 97,
    min_shared: int = 2,
    n: int = 3,
) -> str:
    """DuckDB twin of :func:`decontaminate`."""
    return f"""
WITH ex AS (SELECT DISTINCT {id_expr}, s FROM
  (SELECT {id_expr}, unnest({shingles_sql(text_expr, n)}) AS s FROM {table})),
probes AS (SELECT {id_expr} AS probe_id, s FROM ex WHERE {id_expr} % {probe_mod} = 0),
train AS (SELECT {id_expr}, s FROM ex WHERE {id_expr} % {probe_mod} <> 0)
SELECT t.{id_expr},
       CAST(COUNT(DISTINCT t.s) AS BIGINT) AS n_shared_shingles,
       CAST(COUNT(DISTINCT p.probe_id) AS BIGINT) AS n_probe_docs
FROM train t JOIN probes p ON t.s = p.s
GROUP BY 1 HAVING COUNT(DISTINCT t.s) >= {min_shared}
"""
