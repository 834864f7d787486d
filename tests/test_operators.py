"""Direct operator-level tests (beyond the inventory parity harness):
skew-salted aggregation equivalence and as-of join edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_optimizer_cpp_spark.catalog import load_tables
from sql_query_optimizer_cpp_spark.operators.joins import asof_join
from sql_query_optimizer_cpp_spark.operators.skew import salted_agg

from .conftest import SF_DIR


def test_salted_agg_equals_direct(spark):
    orders = load_tables(spark, SF_DIR, ("orders",))["orders"]
    direct = {
        (r.o_orderstatus,): (r.n, r.total)
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    salted = {
        (r.o_orderstatus,): (r.n, r.total)
        for r in salted_agg(
            orders,
            ["o_orderstatus"],
            {
                "n": (F.count("*"), F.sum("n")),
                "total": (
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.sum("total").cast("double"),
                ),
            },
            n_salts=8,
        ).collect()
    }
    assert direct == salted


def test_salted_agg_spreads_hot_key(spark):
    """The phase-1 aggregate must carry the salt column (the spreading
    mechanism) and phase 2 must group only by the original key."""
    orders = load_tables(spark, SF_DIR, ("orders",))["orders"]
    out = salted_agg(
        orders, ["o_orderstatus"], {"n": (F.count("*"), F.sum("n"))}, n_salts=8
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan  # phase-1 grouping includes the salt
    assert out.columns == ["o_orderstatus", "n"]


def test_asof_join_no_prior_match(spark):
    """Left rows earlier than every right row keep NULL payloads (LEFT
    as-of semantics)."""
    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 50, "b")], ["k", "t", "tag"]
    )
    right = spark.createDataFrame([(1, 10, 100.0)], ["k", "t", "val"])
    out = asof_join(
        left.select("k", F.col("t").alias("ts"), "tag"),
        right.select("k", F.col("t").alias("ts"), "val"),
        key="k",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["val"],
    ).collect()
    by_tag = {r.tag: r.asof_val for r in out}
    assert by_tag["a"] is None  # t=5 precedes the only right row (t=10)
    assert by_tag["b"] == 100.0  # t=50 sees it


def test_asof_join_tie_is_match(spark):
    """A right row at exactly left_ts matches (>= semantics, like DuckDB
    ASOF)."""
    left = spark.createDataFrame([(1, 10, "x")], ["k", "t", "tag"])
    right = spark.createDataFrame([(1, 10, 7.0)], ["k", "t", "val"])
    out = asof_join(
        left.select("k", F.col("t").alias("ts"), "tag"),
        right.select("k", F.col("t").alias("ts"), "val"),
        key="k",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["val"],
    ).collect()
    assert out[0].asof_val == 7.0


def test_ngram_prefix_filter_exact(spark):
    """Prefix filtering must not change the result set — it only prunes
    candidates that provably cannot reach the threshold."""
    from sql_query_optimizer_cpp_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    with_prefix = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.8, prefix_filter=True).collect())
    )
    without = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.8, prefix_filter=False).collect())
    )
    assert with_prefix == without
    assert len(with_prefix) > 0


def test_similarity_fast_path_matches_exact(spark):
    """exact=False (plain-double dots, the production path) must produce the
    same rounded-6dp results as the decimal oracle path on the fixtures —
    and must not emit any DECIMAL cast in the physical plan."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    for fn in (S.brute_force_topk, S.lsh_bucketed_topk):
        exact = sorted(tuple(r) for r in fn(emb, exact=True).collect())
        fast_df = fn(emb, exact=False)
        fast = sorted(tuple(r) for r in fast_df.collect())
        assert fast == exact, fn.__name__
    # the brute-force fast plan really dropped the decimal accumulator
    # (the LSH variant keeps decimal ONLY in bucket assignment, by design)
    plan = (
        S.brute_force_topk(emb, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "decimal(38,20)" not in plan.lower()


def test_pack_sequences_invariants(spark):
    """Structural invariants beyond the oracle hash: offsets live inside
    the context window, bins are dense per shard, and token totals are
    conserved."""
    from sql_query_optimizer_cpp_spark.operators.curation import pack_sequences

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    ctx = 128  # small ctx so the fixture spans many bins
    rows = pack_sequences(docs, n_shards=4, ctx=ctx).collect()
    assert rows and all(0 <= r.bin_offset < ctx for r in rows)
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        bins = {r.bin_id for r in rs}
        assert bins == set(range(max(bins) + 1)), f"shard {shard} skipped a bin"
        total = sum(r.n_tokens for r in rs)
        last = max(rs, key=lambda r: (r.bin_id, r.bin_offset))
        assert last.bin_id * ctx + last.bin_offset + last.n_tokens == total


def test_stratified_sample_rates(spark):
    """Sampled fraction per stratum must track the configured rate (hash
    buckets are uniform; tolerance is generous for the tiny fixture), and
    resampling must be byte-identical (determinism)."""
    from sql_query_optimizer_cpp_spark.operators.curation import stratified_sample

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    rates = {"en": 0.3, "es": 0.75}
    out1 = stratified_sample(docs, "lang", rates, 1.0).collect()
    out2 = stratified_sample(docs, "lang", rates, 1.0).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    base = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    got: dict = {}
    for r in out1:
        got[r.lang] = got.get(r.lang, 0) + 1
    for lang, n in base.items():
        frac = got.get(lang, 0) / n
        want = rates.get(lang, 1.0)
        assert abs(frac - want) < 0.25, (lang, frac, want)


def test_range_join_binned_equals_naive(spark):
    """range_join_binned must return exactly the naive range-predicate
    join's rows (binning only changes the execution strategy), including
    boundary behavior: lo inclusive, hi exclusive."""
    from pyspark.sql import functions as F
    from sql_query_optimizer_cpp_spark.catalog import load_tables
    from sql_query_optimizer_cpp_spark.operators.joins import range_join_binned

    t = load_tables(spark, SF_DIR, ("orders",))
    pts = t["orders"].select("o_orderkey", "o_totalprice")
    bands = spark.range(30).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 20000.0).alias("lo"),
        (F.col("id") * 20000.0 + 50000.0).alias("hi"),
    )
    binned = range_join_binned(pts, bands, "o_totalprice", "lo", "hi", 25000.0)
    naive = pts.join(
        bands,
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    got = sorted(tuple(r) for r in binned.select("o_orderkey", "band_id").collect())
    want = sorted(tuple(r) for r in naive.select("o_orderkey", "band_id").collect())
    assert got == want and len(got) > 0


def test_range_join_binned_boundary_rows(spark):
    """A point exactly on lo matches; exactly on hi does not; bin-boundary
    crossers (interval spanning multiple bins) are found once, not twice."""
    from pyspark.sql import functions as F
    from sql_query_optimizer_cpp_spark.operators.joins import range_join_binned

    pts = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 19.999), (4, 5.0)], "pid int, v double"
    )
    iv = spark.createDataFrame([(100, 10.0, 20.0)], "iid int, lo double, hi double")
    # bin width 7 -> interval [10,20) spans bins 1..2; point 10 in bin 1
    out = range_join_binned(pts, iv, "v", "lo", "hi", 7.0)
    rows = sorted((r.pid, r.iid) for r in out.collect())
    assert rows == [(1, 100), (3, 100)]


def test_range_join_binned_randomized(spark):
    """Seeded-random equivalence sweep: for several bin widths (smaller,
    comparable, and larger than typical interval length — including bins
    much narrower than intervals, where each interval explodes across many
    bins), binned == naive on random points and intervals with negative
    values and empty intervals mixed in."""
    import random

    from pyspark.sql import functions as F
    from sql_query_optimizer_cpp_spark.operators.joins import range_join_binned

    rng = random.Random(42)
    pts_rows = [(i, rng.uniform(-50.0, 50.0)) for i in range(300)]
    iv_rows = []
    for j in range(60):
        lo = rng.uniform(-60.0, 45.0)
        iv_rows.append((j, lo, lo + rng.uniform(0.0, 20.0)))
    pts = spark.createDataFrame(pts_rows, "pid int, v double")
    iv = spark.createDataFrame(iv_rows, "iid int, lo double, hi double")
    naive = sorted(
        (r.pid, r.iid)
        for r in pts.join(
            iv, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).collect()
    )
    assert len(naive) > 0
    for width in (0.7, 5.0, 40.0):
        binned = sorted(
            (r.pid, r.iid)
            for r in range_join_binned(pts, iv, "v", "lo", "hi", width).collect()
        )
        assert binned == naive, f"width={width}"


def test_rollup_reaggregation_randomized(spark):
    """Seeded-random: re-aggregating hour partials to day equals the direct
    day aggregation from raw — including the decimal partial sums, which is
    the property a double accumulator would NOT satisfy."""
    import datetime
    import random

    from pyspark.sql import functions as F
    from sql_query_optimizer_cpp_spark.operators.rollup import hierarchical_rollup

    rng = random.Random(7)
    base = datetime.datetime(2024, 3, 1)
    rows = [
        (
            base + datetime.timedelta(seconds=rng.randrange(14 * 86400)),
            rng.choice(["a", "b", "c"]),
            round(rng.uniform(-100.0, 100.0), 2),
        )
        for _ in range(2000)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, k string, value double")
    rolled = hierarchical_rollup(ev, "ts", "k", "value", grains=("hour", "day"))
    got = {
        (r.bucket, r.k): (r.n_events, r.sum_value, r.min_value, r.max_value)
        for r in rolled.filter("grain = 'day'").collect()
    }
    direct = {
        (r.bucket, r.k): (r.n_events, r.sum_value, r.min_value, r.max_value)
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("bucket"), "k"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == direct and len(got) >= 14 * 3 - 5
    from sql_query_optimizer_cpp_spark.operators.cache import release_cached

    release_cached()


def test_repeated_rollup_tracks_one_cache(spark):
    """Rolling up the same events again reuses the cached hour partials:
    no second persist and no second tracked handle, and release_cached()
    still frees the cache."""
    from sql_query_optimizer_cpp_spark.operators import cache
    from sql_query_optimizer_cpp_spark.operators.rollup import (
        grain_partials,
        hierarchical_rollup,
    )

    cache.release_cached()
    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    counts = []
    for _ in range(3):
        hierarchical_rollup(ev, "ts", "event_type", "value").count()
        counts.append(len(cache._PERSISTED))
    assert counts == [1, 1, 1]
    hour = grain_partials(ev, "ts", "event_type", "value", "hour")
    assert hour.storageLevel.useMemory
    assert cache.release_cached() == 1
    assert not hour.storageLevel.useMemory and not hour.storageLevel.useDisk


def test_lsh_multiprobe_recall_on_planted_twins(spark):
    """LSH recall measured the honest way: random fixture vectors have no
    true near neighbors (bucket probing can't 'find' structure that isn't
    there), so plant them — perturb 40 corpus vectors into queries whose
    twin sits at a ~0.3 rad angle.  Single-probe recall reflects the
    (1 - θ/π)^4 same-bucket probability; probing the 4 Hamming-1 buckets
    too (multi-probe) recovers most one-bit escapes at 5/16 of the corpus
    per query instead of 1/16.  Everything is deterministic (fixed
    hyperplanes, sin-based perturbation), so exact recalls are stable:
    0.725 single vs 0.9 at 5 probes."""
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.operators.similarity import lsh_bucketed_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_q = 40
    corpus = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    twins = emb.filter(F.col("vec_id") < n_q).select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> "
            "x + CAST(0.05 * sin(vec_id * 7 + i) AS FLOAT))"
        ).alias("embedding"),
    )
    df = corpus.unionByName(twins)

    def recall(n_probes: int) -> float:
        top = lsh_bucketed_topk(df, n_queries=n_q, k=3, n_probes=n_probes)
        hits = {
            r.query_id
            for r in top.collect()
            if r.neighbor_id == r.query_id + 1000
        }
        return len(hits) / n_q

    single, multi = recall(1), recall(5)
    assert single >= 0.7
    assert multi >= 0.85
    assert multi > single


def test_redact_pii_edge_cases(spark):
    """Global replace (every occurrence, not just the first), mixed kinds
    in one string, and PII-free text passing through byte-identical."""
    from sql_query_optimizer_cpp_spark.operators.text import redact_pii

    rows = [
        ("a@b.com then c.d-e@f.org done", "<EMAIL> then <EMAIL> done"),
        ("call +1-555-0100 or +44-020-7946", "call <PHONE> or <PHONE>"),
        ("host 10.0.0.1 and 192.168.255.254 up", "host <IP> and <IP> up"),
        ("user1@mail-web.com +1-555-0042 10.3.0.7", "<EMAIL> <PHONE> <IP>"),
        ("no pii here, just text. really.", "no pii here, just text. really."),
        ("almost@an@email and 1.2.3 and +1-55", "almost@an@email and 1.2.3 and +1-55"),
    ]
    df = spark.createDataFrame(rows, ["text", "expected"])
    got = df.select("expected", redact_pii("text").alias("redacted")).collect()
    for r in got:
        assert r.redacted == r.expected


def test_sample_fixed_k_invariants(spark):
    """Each stratum yields exactly min(k, |stratum|) rows, pos is dense
    1..n, and the keep-set is invariant under repartitioning (the
    determinism a backfill at scale relies on)."""
    from sql_query_optimizer_cpp_spark.operators.curation import sample_fixed_k

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    k = 7
    out = sample_fixed_k(docs, "lang", k).collect()
    sizes = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r.pos)
    assert set(by_lang) == set(sizes)
    for lang, poss in by_lang.items():
        assert sorted(poss) == list(range(1, min(k, sizes[lang]) + 1)), lang

    reshuffled = sample_fixed_k(docs.repartition(13), "lang", k).collect()
    assert {(r.doc_id, r.lang) for r in reshuffled} == {
        (r.doc_id, r.lang) for r in out
    }


def test_salted_join_equals_direct(spark):
    """The salted (key, salt) equi-join must return exactly the plain
    join's rows, for inner and left; right/full are rejected (unmatched
    right rows would surface once per salt replica)."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators.skew import salted_join

    t = load_tables(spark, SF_DIR, ("orders", "customer"))
    orders, customer = t["orders"], t["customer"]
    cust = customer.withColumnRenamed("c_custkey", "o_custkey")

    for how in ("inner", "left"):
        direct = sorted(
            (r.o_orderkey, r.c_name)
            for r in orders.join(cust, ["o_custkey"], how)
            .select("o_orderkey", "c_name")
            .collect()
        )
        salted = sorted(
            (r.o_orderkey, r.c_name)
            for r in salted_join(orders, cust, ["o_custkey"], n_salts=8, how=how)
            .select("o_orderkey", "c_name")
            .collect()
        )
        assert salted == direct, how

    with _pytest.raises(ValueError):
        salted_join(orders, cust, ["o_custkey"], how="full")


def test_cc_star_equals_label_propagation(spark):
    """Large-star/small-star and min-label propagation must reach the
    same fixpoint (every doc labeled with its component minimum) on the
    fixture near-dup graph AND on a synthetic long chain — the case star
    contraction exists for (diameter >> log n)."""
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.catalog import load_tables
    from sql_query_optimizer_cpp_spark.operators import dedup as D

    from .conftest import SF_DIR

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    pairs = D.minhash_lsh_pairs(docs)
    star = {
        (r.doc_id, r.label) for r in D.cc_labels_star(pairs).collect()
    }
    prop = {
        (r.doc_id, r.cluster_rep)
        for r in D.neardup_clusters(docs, pairs=pairs).collect()
        if r.cluster_size > 1
    }
    assert star == prop

    # chain 0-1-2-...-19 plus a disjoint triangle {100,101,102}
    chain = [(i, i + 1) for i in range(19)]
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(chain + tri, ["doc_a", "doc_b"])
    got = {
        (r.doc_id, r.label) for r in D.cc_labels_star(edges).collect()
    }
    want = {(i, 0) for i in range(20)} | {(i, 100) for i in (100, 101, 102)}
    assert got == want


def test_array_collect_roundtrip(spark, duck):
    """The array-typed variant of agg_array_collect (not driver-graded:
    the driver's pandas hasher can't factorize top-level list cells) must
    still round-trip a real array<bigint> column bit-identically vs DuckDB,
    and its serialized graded twin must be the array_join of exactly it."""
    from .compare import assert_same_result
    from sql_query_optimizer_cpp_spark.inventory.aggregates import (
        agg_array_collect_arrays,
    )

    sdf = agg_array_collect_arrays(spark, SF_DIR)
    rel = duck.sql(
        "SELECT o_orderstatus, list_sort(list(o_custkey)) AS custkeys, "
        "CAST(len(list(o_custkey)) AS BIGINT) AS n "
        "FROM orders WHERE o_custkey < 50 GROUP BY o_orderstatus"
    )
    assert_same_result(sdf, rel, "agg_array_collect_arrays")
    # graded twin == array_join of the array variant
    joined = {
        r.o_orderstatus: ",".join(str(x) for x in r.custkeys)
        for r in sdf.collect()
    }
    from sql_query_optimizer_cpp_spark.inventory import all_queries

    graded = all_queries()["agg_array_collect"].fn(spark, SF_DIR)
    for r in graded.collect():
        assert r.custkeys == joined[r.o_orderstatus]


def test_minhash_signature_roundtrip(spark, duck):
    """Same contract for the MinHash signature sketch: the array<bigint>
    signature matches DuckDB's list-typed oracle, and the graded string
    projection is its '-'-join."""
    from .compare import assert_same_result
    from sql_query_optimizer_cpp_spark.functions import (
        hash64_sql,
        minhash_params,
        minhash_transform_sql,
    )
    from sql_query_optimizer_cpp_spark.inventory.dedup import (
        NUM_HASHES,
        text_minhash_signature_arrays,
    )
    from sql_query_optimizer_cpp_spark.operators import dedup as D

    sdf = text_minhash_signature_arrays(spark, SF_DIR)
    mins = ", ".join(
        f"MIN({minhash_transform_sql('h', a, b)})"
        for a, b in minhash_params(NUM_HASHES)
    )
    rel = duck.sql(
        f"""
WITH ex AS (SELECT DISTINCT doc_id, s FROM
  (SELECT doc_id, unnest({D.shingles_sql('text')}) AS s
   FROM documents WHERE doc_id < 50)),
exh AS (SELECT doc_id, s, {hash64_sql("s", seed="mh:")} AS h FROM ex)
SELECT doc_id, [{mins}] AS signature FROM exh GROUP BY doc_id
"""
    )
    assert_same_result(sdf, rel, "text_minhash_signature_arrays")
    joined = {
        r.doc_id: "-".join(str(x) for x in r.signature) for r in sdf.collect()
    }
    from sql_query_optimizer_cpp_spark.inventory import all_queries

    graded = all_queries()["text_minhash_signature"].fn(spark, SF_DIR)
    for r in graded.collect():
        assert r.signature == joined[r.doc_id]


def test_anomaly_zscore_zero_variance_yields_null(spark, tmp_path):
    """An event_type with a single hourly bucket (variance 0) must emit
    NULL z / is_anomaly in BOTH engines — Spark's 0/0 (NaN) and DuckDB's
    x/0 semantics diverge without the num>0 / NULLIF guard (ADVICE r04)."""
    import datetime

    import duckdb

    from sql_query_optimizer_cpp_spark.inventory import all_queries

    rows = [
        # 'lonely' has ONE hourly bucket -> n_hours=1, var=0
        (1, "lonely", datetime.datetime(2024, 1, 1, 10, 0, 0), "{}"),
        (2, "lonely", datetime.datetime(2024, 1, 1, 10, 30, 0), "{}"),
        # 'steady' has two buckets with EQUAL counts -> var=0 as well
        (3, "steady", datetime.datetime(2024, 1, 1, 10, 0, 0), "{}"),
        (4, "steady", datetime.datetime(2024, 1, 1, 11, 0, 0), "{}"),
        # 'varied' has real variance -> non-NULL z
        (5, "varied", datetime.datetime(2024, 1, 1, 10, 0, 0), "{}"),
        (6, "varied", datetime.datetime(2024, 1, 1, 10, 5, 0), "{}"),
        (7, "varied", datetime.datetime(2024, 1, 1, 11, 0, 0), "{}"),
    ]
    sdf = spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp, props string"
    )
    sf = str(tmp_path)
    sdf.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    spec = all_queries()["events_anomaly_zscore"]
    out = {
        (r.event_type, r.bucket): (r.z, r.is_anomaly)
        for r in spec.fn(spark, sf).collect()
    }
    for (etype, _), (z, anom) in out.items():
        if etype in ("lonely", "steady"):
            assert z is None and anom is None, (etype, z, anom)
        else:
            assert z is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    dout = {
        (r[0], r[1]): (r[3], r[4]) for r in con.execute(spec.oracle).fetchall()
    }
    assert set(dout) == set(out)
    for k, (z, anom) in dout.items():
        sz, sanom = out[k]
        if z is None:
            assert sz is None and sanom is None and anom is None
        else:
            assert sz == z and sanom == anom
    con.close()


def test_cc_randomized_graphs_vs_union_find(spark):
    """Both CC implementations must match a driver-side union-find ground
    truth on seeded random graphs (denser and loopier than the fixture's
    near-dup graph — cycles, multi-edges, isolated pairs)."""
    import random

    from sql_query_optimizer_cpp_spark.operators import dedup as D

    for seed, n, m in ((11, 60, 45), (23, 80, 120), (37, 40, 15)):
        rng = random.Random(seed)
        edges = []
        for _ in range(m):
            a, b = rng.sample(range(n), 2)
            edges.append((min(a, b), max(a, b)))
        # union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        want = {(x, find(x)) for x in touched}

        edf = spark.createDataFrame(
            [(a, b) for a, b in edges], ["doc_a", "doc_b"]
        )
        got_star = {
            (r.doc_id, r.label) for r in D.cc_labels_star(edf).collect()
        }
        assert got_star == want, f"star labels diverge (seed={seed})"


def test_corr_moments_degenerate_group_yields_null(spark, tmp_path):
    """A group with one row (or a constant column) has zero variance: the
    unguarded formula is 0/0 (Spark NaN, DuckDB NULL) and double
    cancellation can even push the sqrt argument negative, which DuckDB
    hard-errors on.  Both engines must emit NULL instead (review finding,
    same class as events_anomaly_zscore)."""
    import datetime

    import duckdb

    from sql_query_optimizer_cpp_spark.inventory import all_queries

    rows = [
        # group 'S': a single lineitem row -> both variances are 0
        (1, 1, 1, 1, 5.0, 100.0, 0.0, 0.0, "S", "O", datetime.datetime(2024, 1, 1)),
        # group 'C': constant quantity -> x-variance 0, y-variance > 0
        (2, 1, 1, 1, 7.0, 100.0, 0.0, 0.0, "C", "O", datetime.datetime(2024, 1, 1)),
        (3, 1, 1, 2, 7.0, 200.0, 0.0, 0.0, "C", "O", datetime.datetime(2024, 1, 1)),
        # group 'V': real variance on both sides -> non-NULL corr
        (4, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "V", "O", datetime.datetime(2024, 1, 1)),
        (5, 1, 1, 2, 2.0, 250.0, 0.0, 0.0, "V", "O", datetime.datetime(2024, 1, 1)),
        (6, 1, 1, 3, 3.0, 290.0, 0.0, 0.0, "V", "O", datetime.datetime(2024, 1, 1)),
    ]
    schema = (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber bigint, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp"
    )
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{sf}/lineitem.parquet")

    spec = all_queries()["agg_corr_moments"]
    got = {r.l_returnflag: r.corr_qty_price for r in spec.fn(spark, sf).collect()}
    assert got["S"] is None and got["C"] is None
    assert got["V"] is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet/*.parquet')"
    )
    duck = {r[0]: r[2] for r in con.execute(spec.oracle).fetchall()}
    con.close()
    assert duck == got


def test_operator_config_guards(spark):
    """Invalid operator configurations must raise, not degrade: bands
    that don't tile the hashes (would degenerate LSH into an all-pairs
    cross join), pigeonhole-violating simhash bands (would silently LOSE
    true near-dups), and over-asking multi-probe (would probe fewer
    buckets than claimed)."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from sql_query_optimizer_cpp_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    with _pytest.raises(ValueError, match="divisor"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=32)
    with _pytest.raises(ValueError, match="divisor"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5)
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, bands=2, max_hamming=2)
    with _pytest.raises(ValueError, match="n_probes"):
        lsh_bucketed_topk(emb, n_probes=8)


def test_quality_filter_null_text_dropped(spark):
    """NULL text must be dropped with its own reason — unguarded, every
    CASE condition evaluates to NULL and the row fell through to 'ok'
    (review finding), and DuckDB's identical CASE semantics meant the
    oracle could never catch it."""
    from sql_query_optimizer_cpp_spark.operators.curation import quality_filter

    rows = [(1, None), (2, "short"), (3, "the " * 30 + "document is long enough")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.keep, r.reason) for r in quality_filter(df).collect()}
    assert got[1] == (False, "null_text")
    assert got[2][0] is False


def test_stratified_sample_sql_defaults_parse(duck):
    """The SQL twin with NO per-stratum rates must still parse (a bare
    'CASE ELSE' was a DuckDB parser error) and agree with a rate of 1.0
    keeping everything."""
    from sql_query_optimizer_cpp_spark.operators.curation import (
        stratified_sample_sql,
    )

    n_all = duck.sql("SELECT COUNT(*) FROM documents").fetchall()[0][0]
    n_kept = duck.sql(
        f"SELECT COUNT(*) FROM ({stratified_sample_sql('documents')})"
    ).fetchall()[0][0]
    assert n_kept == n_all


def test_full_outer_anti_handles_null_safe_and_same_names(spark):
    """The marker-based full-outer-anti must treat a null-safe NULL==NULL
    match as MATCHED (excluded) and tolerate identically-named keys."""
    from sql_query_optimizer_cpp_spark.operators.joins import (
        full_outer_anti_join,
    )

    left = spark.createDataFrame([(1, "a"), (None, "b")], "k int, lv string")
    right = spark.createDataFrame([(None, "x"), (2, "y")], "k int, rv string")
    out = full_outer_anti_join(
        left, right, left["k"].eqNullSafe(right["k"]), "k", "k"
    ).collect()
    # NULL==NULL matched null-safely -> excluded; unmatched: left k=1, right k=2
    vals = {(r.lv, r.rv) for r in out}
    assert vals == {("a", None), (None, "y")}


def test_chunk_documents_windows_and_edges(spark):
    """Window arithmetic: overlap placement, short tail, empty docs
    dropped, validation."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),          # 7 tokens
            (2, "x"),                       # 1 token
            (3, "   "),                     # no tokens -> no rows
            (4, None),                      # NULL text -> no rows
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(
        df, "text", ("doc_id",), chunk_tokens=4, overlap=2
    ).collect()
    got = {(r.doc_id, r.chunk_id): (r.chunk, r.n_tokens) for r in out}
    assert got == {
        (1, 0): ("a b c d", 4),
        (1, 1): ("c d e f", 4),
        (1, 2): ("e f g", 3),
        (1, 3): ("g", 1),
        (2, 0): ("x", 1),
    }
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)
    # zero overlap: disjoint windows
    out0 = chunk_documents(
        df.where("doc_id = 1"), chunk_tokens=3, overlap=0
    ).collect()
    assert [(r.chunk_id, r.chunk) for r in sorted(out0, key=lambda r: r.chunk_id)] == [
        (0, "a b c"), (1, "d e f"), (2, "g"),
    ]


def test_trained_ivf_beats_label_centroids(spark, tmp_path):
    """The r10 'Done' criterion: sample-trained k-means cells give
    recall@5 at nprobe=1 at least as high as the per-label centroids
    (on the fixtures they roughly double it), with the same probe cost;
    plus determinism (two trainings -> identical codebook) and the
    persisted-sidecar round trip."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, n_queries=10, k=5).collect()
    }
    lab = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, n_queries=10, k=5).collect()
    }
    tr = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk_trained(emb, n_queries=10, k=5).collect()
    }
    recall_label = len(exact & lab) / len(exact)
    recall_trained = len(exact & tr) / len(exact)
    assert recall_trained >= recall_label, (recall_trained, recall_label)
    assert recall_trained >= 0.3  # the measured fixture lift (~0.4)
    # deterministic: identical codebook across trainings
    c1 = sorted(map(tuple, S.kmeans_centroids(emb).collect()))
    c2 = sorted(map(tuple, S.kmeans_centroids(emb).collect()))
    assert c1 == c2
    # sidecar round trip: persisted codebook reproduces the search
    tdir = str(tmp_path / "emb_tbl")
    emb.write.parquet(tdir)
    n_cells = S.build_ivf_index(spark, tdir, id_col="vec_id")
    assert 0 < n_cells <= S.IVF_CELLS
    book = S.read_ivf_index(spark, tdir)
    assert book is not None
    via_sidecar = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk_trained(
            emb, n_queries=10, k=5, codebook=book
        ).collect()
    }
    assert via_sidecar == tr
    assert S.read_ivf_index(spark, str(tmp_path / "nope")) is None
    # the sidecar is invisible to base scans (underscore convention)
    assert spark.read.parquet(tdir).columns == emb.columns


def test_ivf_indexed_probe_prunes_to_probed_cells(spark, tmp_path):
    """The persisted posting lists are the serving path (r11): probes
    must (a) return exactly what the train-at-query-time search returns
    and (b) READ only the probed cells' partitions — the whole point of
    reclustering the corpus by cell."""
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf")
    emb.write.parquet(tdir)
    n_cells = S.build_ivf_index(spark, tdir, id_col="vec_id")
    book = S.read_ivf_index(spark, tdir)
    postings = S.read_ivf_postings(spark, tdir)
    assert book is not None and postings is not None
    # the posting lists ARE the corpus, reclustered: no row lost
    assert postings.count() == emb.count()
    assert postings.select("vec_id").distinct().count() == emb.count()
    def posting_cells(df):
        return {
            int(seg.split("=")[1])
            for f in df.inputFiles()
            for seg in f.split("/")
            if seg.startswith("cell=")
        }

    all_cells = posting_cells(postings)
    assert len(all_cells) == n_cells
    probed = sorted(
        r["cell"]
        for r in S.assign_cells(
            S._comp(emb.where(F.col("vec_id") < 10), "vec_id", "embedding"),
            book,
            "vec_id",
            top_p=1,
        )
        .select("cell")
        .distinct()
        .collect()
    )
    assert len(probed) < n_cells  # 10 queries land in < all cells here
    for p in (1, 2):
        want = sorted(
            map(
                tuple,
                S.ivf_topk_trained(
                    emb, n_queries=10, k=5, codebook=book, n_probes=p
                ).collect(),
            )
        )
        got_df = S.ivf_search_indexed(
            spark, tdir, n_queries=10, k=5, n_probes=p
        )
        assert sorted(map(tuple, got_df.collect())) == want
        # scan-pruning proof: the probe plan's posting-list leaf holds
        # ONLY the probed cells' files — at nprobe=1 exactly the query
        # assignments, strictly fewer than the full index either way
        touched = posting_cells(got_df)
        assert touched < all_cells
        if p == 1:
            assert touched == set(probed)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="build_ivf_index"):
        S.ivf_search_indexed(spark, str(tmp_path / "absent"))


def test_ivf_indexed_probe_survives_empty_cell(spark, tmp_path):
    """(review r11) A probed cell with no postings partition (a trained
    centroid that won zero corpus vectors, or an empty-cell carry) must
    contribute ZERO candidates — exactly ivf_topk_trained's semantics —
    not crash on the missing directory."""
    import shutil

    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_empty")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    postings = S.read_ivf_postings(spark, tdir)
    counts = {
        r["cell"]: r["count"]
        for r in postings.groupBy("cell").count().collect()
    }
    victim = min(counts, key=lambda c: counts[c])
    victim_ids = {
        r["vec_id"]
        for r in postings.where(F.col("cell") == victim).collect()
    }
    shutil.rmtree(f"{tdir}/_index/ivf/embedding/postings/cell={victim}")
    # probe EVERY cell so the victim is guaranteed probed
    out = S.ivf_search_indexed(
        spark, tdir, n_queries=10, k=5, n_probes=S.IVF_CELLS
    ).collect()
    assert out  # no crash, results produced
    assert not {r["neighbor_id"] for r in out} & victim_ids


def test_ivf_index_staleness_gate(spark, tmp_path):
    """(r11) Posting lists pin the build-time file set: DML/appends after
    build would silently LOSE search results, so the probe refuses a
    stale index unless the caller opts in."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_stale")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    assert S.ivf_search_indexed(spark, tdir, n_queries=5, k=3).count() > 0
    # the corpus grows: the index no longer covers the table
    emb.limit(7).selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    with _pytest.raises(ValueError, match="STALE"):
        S.ivf_search_indexed(spark, tdir, n_queries=5, k=3)
    # explicit opt-in searches the indexed subset
    assert (
        S.ivf_search_indexed(
            spark, tdir, n_queries=5, k=3, allow_stale=True
        ).count()
        > 0
    )
    # rebuild re-anchors
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    assert S.ivf_search_indexed(spark, tdir, n_queries=5, k=3).count() > 0
    # a usable index with NO anchor is crash debris (e.g. a failed
    # anchor overwrite): searches and refreshes refuse LOUDLY instead
    # of running ungated forever (review r11, third pass)
    import os

    os.remove(f"{tdir}/_index/ivf/embedding/meta.json")
    with _pytest.raises(ValueError, match="no staleness anchor"):
        S.ivf_search_indexed(spark, tdir, n_queries=5, k=3)
    with _pytest.raises(ValueError, match="no staleness anchor"):
        S.refresh_ivf_index(spark, tdir, id_col="vec_id")
    # allow_stale still reaches the indexed data explicitly
    assert (
        S.ivf_search_indexed(
            spark, tdir, n_queries=5, k=3, allow_stale=True
        ).count()
        > 0
    )


def test_trained_ivf_multi_probe_recall_monotone(spark):
    """n_probes is the IVF recall-vs-cost knob: recall never drops as
    probes grow, and probing EVERY cell recovers the exact top-k."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    book = S.kmeans_centroids(emb)  # train once, reuse across probes
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, n_queries=10, k=5).collect()
    }

    def recall(p):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_topk_trained(
                emb, n_queries=10, k=5, codebook=book, n_probes=p
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r2, r_all = recall(1), recall(2), recall(S.IVF_CELLS)
    assert r1 <= r2 <= r_all, (r1, r2, r_all)
    assert r2 > r1  # on the fixtures the second probe genuinely helps
    assert r_all == 1.0  # probing every cell == the exact search
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_probes"):
        S.ivf_topk_trained(emb, n_probes=0)


def test_ivf_staleness_gate_sees_deletion_vectors(spark, tmp_path):
    """(review r11 #2) A dv_delete touches NO data file, so a file-only
    anchor would pass the gate and the index would resurrect the
    deleted vector; the anchor must cover DV batches, and a rebuild
    must index through read_mor."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_dv")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    # pick a guaranteed neighbor at n_probes=all: some returned id
    hit = S.ivf_search_indexed(
        spark, tdir, n_queries=5, k=3, n_probes=S.IVF_CELLS
    ).first()["neighbor_id"]
    assert dv_delete_where(spark, tdir, f"vec_id = {hit}") == 1
    with _pytest.raises(ValueError, match="STALE"):
        S.ivf_search_indexed(spark, tdir, n_queries=5, k=3)
    # rebuild reads through the tombstones: the deleted vector is
    # neither indexed nor served
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    out = S.ivf_search_indexed(
        spark, tdir, n_queries=5, k=3, n_probes=S.IVF_CELLS
    ).collect()
    assert out and hit not in {r["neighbor_id"] for r in out}
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.where(f"vec_id = {hit}").count() == 0


def test_refresh_ivf_index_incremental(spark, tmp_path):
    """(r11) refresh_ivf_index appends ONLY the new files' vectors using
    the persisted codebook (no retraining), advances the anchor, refuses
    non-append drift, and detects a half-applied earlier refresh."""
    import os

    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_refresh")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    base_n = S.read_ivf_postings(spark, tdir).count()
    # corpus appends 7 vectors in new files: gate trips, refresh mends
    emb.limit(7).selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    with _pytest.raises(ValueError, match="STALE"):
        S.ivf_search_indexed(spark, tdir, n_queries=5, k=3)
    assert S.refresh_ivf_index(spark, tdir, id_col="vec_id") == 7
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == base_n + 7
    assert postings.where("vec_id >= 1000000").count() == 7
    out = S.ivf_search_indexed(
        spark, tdir, n_queries=5, k=3, n_probes=S.IVF_CELLS
    )
    assert out.count() > 0  # gate passes again
    assert S.refresh_ivf_index(spark, tdir, id_col="vec_id") == 0
    # half-applied sim: postings grew without the anchor moving
    extra = postings.where("vec_id = 0").select("vec_id", "embedding", "nsq")
    extra.write.mode("append").parquet(
        f"{tdir}/_index/ivf/embedding/postings/cell=0"
    )
    emb.limit(2).selectExpr(
        "vec_id + 2000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    with _pytest.raises(ValueError, match="partial append"):
        S.refresh_ivf_index(spark, tdir, id_col="vec_id")
    # rebuild converges; then a deletion-vector batch demands rebuild
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    dv_delete_where(spark, tdir, "vec_id = 5")
    with _pytest.raises(ValueError, match="rebuild"):
        S.refresh_ivf_index(spark, tdir, id_col="vec_id")
    # retired data file demands rebuild too
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    data_files = [
        f for f in os.listdir(tdir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    os.remove(os.path.join(tdir, data_files[0]))
    with _pytest.raises(ValueError, match="rebuild"):
        S.refresh_ivf_index(spark, tdir, id_col="vec_id")


def test_maintain_ivf_index_folds_deletes_and_appends(spark, tmp_path):
    """(r11) maintain_ivf_index folds a deletion-vector batch into the
    persisted index by row identity — O(affected cells), no retrain —
    and handles appends + deletes arriving together in one call; after
    every maintain the indexed probe equals the unindexed trained
    search over read_mor with the same codebook."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        read_mor,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_maintain")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    base_n = S.read_ivf_postings(spark, tdir).count()

    def parity(probes=S.IVF_CELLS, k=4):
        got = sorted(
            tuple(r)
            for r in S.ivf_search_indexed(
                spark, tdir, n_queries=6, k=k, n_probes=probes
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in S.ivf_topk_trained(
                read_mor(spark, tdir).select("vec_id", "embedding"),
                n_queries=6,
                k=k,
                codebook=S.read_ivf_index(spark, tdir),
                n_probes=probes,
            ).collect()
        )
        assert got == want and got

    n_del = dv_delete_where(spark, tdir, "vec_id % 7 = 3")
    assert n_del > 0
    with _pytest.raises(ValueError, match="STALE"):
        S.ivf_search_indexed(spark, tdir, n_queries=6, k=4)
    st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    assert st["removed"] == n_del and st["appended"] == 0
    assert st["cells_rewritten"] >= 1
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == base_n - n_del
    assert postings.where("vec_id % 7 = 3").count() == 0
    parity()
    # idempotent when fresh
    assert S.maintain_ivf_index(spark, tdir, id_col="vec_id") == {
        "appended": 0,
        "removed": 0,
        "cells_rewritten": 0,
    }
    # appends AND a second delete wave folded in ONE maintain — the
    # delete deliberately hits BOTH indexed rows (removed from
    # postings) and a not-yet-indexed new row (1000004 % 7 = 5: must be
    # skipped by the DV-aware append, not appended-then-missed)
    emb.where("vec_id < 5").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    n_del2 = dv_delete_where(spark, tdir, "vec_id % 7 = 5")
    doomed_new = 1  # of the 5 new ids 1000000..1000004, only 1000004
    st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    assert st["appended"] == 5 - doomed_new
    assert st["removed"] == n_del2 - doomed_new
    postings = S.read_ivf_postings(spark, tdir)
    # the posting lists exactly mirror the live rows
    assert postings.count() == read_mor(spark, tdir).count()
    assert postings.where("vec_id = 1000004").count() == 0
    assert postings.where("vec_id >= 1000000").count() == 4
    parity()


def test_maintain_ivf_index_update_same_id(spark, tmp_path):
    """(r11) A dv_update (tombstone + SAME-id copy in one commit) must
    maintain by ROW IDENTITY: the old row's posting leaves, the copy's
    live row enters with its new embedding — id equality alone would
    have removed both."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_update_where,
        read_mor,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_upd")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    base_n = S.read_ivf_postings(spark, tdir).count()
    n_upd = dv_update_where(
        spark, tdir, {"embedding": "reverse(embedding)"}, "vec_id < 4"
    )
    assert n_upd == 4
    st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    # one tombstone batch + one copy file: 4 rows out, 4 rows in
    assert st == {"appended": 4, "removed": 4, "cells_rewritten": st["cells_rewritten"]}
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == base_n
    assert postings.where("vec_id < 4").count() == 4  # exactly once
    # the index serves the UPDATED vectors: parity with the trained
    # search over the post-update table
    got = sorted(
        tuple(r)
        for r in S.ivf_search_indexed(
            spark, tdir, n_queries=4, k=3, n_probes=S.IVF_CELLS
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in S.ivf_topk_trained(
            read_mor(spark, tdir).select("vec_id", "embedding"),
            n_queries=4,
            k=3,
            codebook=S.read_ivf_index(spark, tdir),
            n_probes=S.IVF_CELLS,
        ).collect()
    )
    assert got == want and got


def test_maintain_ivf_index_guards(spark, tmp_path):
    """(r11) maintain refuses: missing index, crashed-maintenance
    debris (which build sweeps), retired data files, and pre-identity
    posting formats."""
    import os

    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_guards")
    emb.write.parquet(tdir)
    with _pytest.raises(ValueError, match="build_ivf_index first"):
        S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    root = S._ivf_root(tdir, "embedding")
    # debris next to a FRESH anchor (a committed maintain whose final
    # cleanup failed) is disposable: maintain sweeps it and no-ops
    os.makedirs(f"{root}/_maintain_trash_deadbeef")
    assert S.maintain_ivf_index(spark, tdir, id_col="vec_id")["removed"] == 0
    assert not os.path.exists(f"{root}/_maintain_trash_deadbeef")
    # debris + DRIFT = a maintain crashed mid-flight: refuse; a rebuild
    # sweeps the debris
    os.makedirs(f"{root}/_maintain_stage_deadbeef")
    emb.where("vec_id < 2").selectExpr(
        "vec_id + 900000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    with _pytest.raises(ValueError, match="debris"):
        S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    assert not os.path.exists(f"{root}/_maintain_stage_deadbeef")
    assert S.maintain_ivf_index(spark, tdir, id_col="vec_id")["removed"] == 0
    # pre-identity postings (the pre-r11 layout) demand a rebuild from
    # refresh AND maintain
    legacy = (
        S.read_ivf_postings(spark, tdir)
        .select("vec_id", "embedding", "nsq", "cell")
    ).cache()
    legacy.count()
    legacy.repartition("cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{root}/postings")
    legacy.unpersist()
    emb.limit(2).selectExpr(
        "vec_id + 500000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    with _pytest.raises(ValueError, match="row-identity"):
        S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    with _pytest.raises(ValueError, match="row-identity"):
        S.refresh_ivf_index(spark, tdir, id_col="vec_id")
    # retired file still demands rebuild
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    data = [
        f
        for f in os.listdir(tdir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    os.remove(os.path.join(tdir, data[0]))
    with _pytest.raises(ValueError, match="rebuild"):
        S.maintain_ivf_index(spark, tdir, id_col="vec_id")


def test_maintain_ivf_index_empties_whole_cell(spark, tmp_path):
    """(r11) Deleting every vector of a cell leaves no staged dir to
    swap in: the cell partition disappears and probes treat it as
    empty instead of crashing."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import dv_delete_where

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_cellkill")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    postings = S.read_ivf_postings(spark, tdir)
    cell = postings.groupBy("cell").count().orderBy("count").first()["cell"]
    ids = [r[0] for r in postings.where(f"cell = {cell}").select("vec_id").collect()]
    n = dv_delete_where(
        spark, tdir, "vec_id IN (" + ",".join(map(str, ids)) + ")"
    )
    assert n == len(ids)
    st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    assert st["removed"] == n
    import os

    root = S._ivf_root(tdir, "embedding")
    assert not os.path.exists(f"{root}/postings/cell={cell}")
    out = S.ivf_search_indexed(
        spark, tdir, n_queries=5, k=3, n_probes=S.IVF_CELLS
    )
    assert out.count() > 0
    assert not [d for d in os.listdir(root) if d.startswith("_maintain_")]


def test_maintain_ivf_index_concurrent_maintainers(spark, tmp_path):
    """(r11) Two maintainers racing the same delete wave serialize on
    the index-scoped advisory lock: exactly one folds the batch, the
    other waits and no-ops on the fresh anchor — never a double
    removal or double append."""
    from concurrent.futures import ThreadPoolExecutor

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        read_mor,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_race")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    n_del = dv_delete_where(spark, tdir, "vec_id % 11 = 4")
    assert n_del > 0
    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [
            ex.submit(S.maintain_ivf_index, spark, tdir, "embedding", "vec_id")
            for _ in range(2)
        ]
        results = [f.result() for f in futs]
    assert sum(r["removed"] for r in results) == n_del
    assert sum(r["appended"] for r in results) == 0
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == read_mor(spark, tdir).count()
    assert postings.where("vec_id % 11 = 4").count() == 0
    out = S.ivf_search_indexed(
        spark, tdir, n_queries=5, k=3, n_probes=S.IVF_CELLS
    )
    assert out.count() > 0


def test_broadcast_threshold_bytes_parses_spark_byte_strings(spark):
    """(r13) The maintain-path broadcast gate reads the session's own
    autoBroadcastJoinThreshold; Spark stores it as a byte-string."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [
            ("10485760", 10 * 1024 * 1024),
            ("10MB", 10 * 1024 * 1024),
            ("512k", 512 * 1024),
            ("1g", 1 << 30),
            ("10485760b", 10 * 1024 * 1024),
            ("-1", -1),
        ]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert S._broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_maintain_ivf_index_size_gates_tombstone_broadcast(
    spark, tmp_path, monkeypatch
):
    """(r13, VERDICT r12 "What's wrong") A bulk delete's tombstone set
    must NOT be force-broadcast: maintain_ivf_index applies F.broadcast
    only when the added DV batches' on-disk bytes fit the session's
    autoBroadcastJoinThreshold.  With broadcasting disabled (-1) the
    hint is never applied and the fold still produces the exact same
    postings; with the default threshold a trickle delete keeps the
    broadcast fast path."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        read_mor,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_gate")
    emb.write.parquet(tdir)
    S.build_ivf_index(spark, tdir, id_col="vec_id")

    calls: list[int] = []
    real_broadcast = F.broadcast
    monkeypatch.setattr(
        S.F, "broadcast", lambda df: calls.append(1) or real_broadcast(df)
    )

    # bulk delete (half the corpus) with broadcasting disabled: the
    # gate must drop the hint (AQE plans the join) and still fold right
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_del = dv_delete_where(spark, tdir, "vec_id % 2 = 0")
        assert n_del > 0
        st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
        assert st["removed"] == n_del
        assert not calls, "tombstone set was force-broadcast despite -1"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == read_mor(spark, tdir).count()
    assert postings.where("vec_id % 2 = 0").count() == 0

    # trickle delete at the default threshold: the hint stays on
    n_del2 = dv_delete_where(spark, tdir, "vec_id = 1")
    assert n_del2 == 1
    st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    assert st["removed"] == 1
    assert calls, "trickle tombstone set lost the broadcast fast path"
    out = S.ivf_search_indexed(
        spark, tdir, n_queries=5, k=3, n_probes=S.IVF_CELLS
    )
    assert out.count() > 0


def test_ivf_index_tolerates_duplicate_ids(spark, tmp_path):
    """(r13, VERDICT r12 task 7) build_ivf_index makes NO id_col
    uniqueness assumption: cell assignment is keyed on the MOR row
    identity (src_file, row_idx), so a duplicated id — within the built
    batch AND within a later appended batch — yields exactly one posting
    row per physical row, never a cross-product."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import read_mor

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivf_dup")
    # duplicate every id < 20 once (same id, different vector) in the
    # SAME initial batch
    dupes = emb.where("vec_id < 20").select(
        "vec_id", F.reverse("embedding").alias("embedding"), "label"
    )
    emb.unionByName(dupes).coalesce(2).write.parquet(tdir)
    base_rows = emb.count() + 20
    S.build_ivf_index(spark, tdir, id_col="vec_id")
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == base_rows  # no cross-product at build
    assert postings.where("vec_id < 20").count() == 40
    # append a batch that AGAIN duplicates ids (both vs the existing
    # table and within itself), then fold it in
    dupes.unionByName(dupes).write.mode("append").parquet(tdir)
    st = S.maintain_ivf_index(spark, tdir, id_col="vec_id")
    assert st["appended"] == 40 and st["removed"] == 0
    postings = S.read_ivf_postings(spark, tdir)
    assert postings.count() == read_mor(spark, tdir).count() == base_rows + 40
    # identities stay unique even though ids are not
    assert (
        postings.select("src_file", "row_idx").distinct().count()
        == base_rows + 40
    )


def test_pq_encode_shapes_and_adc_recall(spark):
    """(r13) Product quantization: encoding emits exactly one code per
    (vector, sub-block) with codes inside the codebook range, the
    codebook covers every (sub, code, pos) cell, and ADC search over
    the CODES-ONLY representation still ranks true neighbors well
    (recall@5 vs exact brute force above a sanity floor — quantized
    search is approximate, not random)."""
    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    n = emb.count()
    book = PQ.train_pq(emb)
    dsub = PQ.DIM // PQ.PQ_SUBS
    assert book.count() == PQ.PQ_SUBS * PQ.PQ_CODES * dsub
    codes = PQ.pq_encode(emb, book)
    assert codes.count() == n * PQ.PQ_SUBS
    assert codes.select("vec_id", "sub").distinct().count() == n * PQ.PQ_SUBS
    rng = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).first()
    assert rng["lo"] >= 0 and rng["hi"] < PQ.PQ_CODES
    # every vector's 16 sub-block codes fit in ~16 bytes vs 256 B of
    # floats: the 16x compression story (geometry sized for recall)
    approx = PQ.pq_adc_topk(emb, n_queries=6, k=5, codebook=book)
    exact = S.brute_force_topk(emb, n_queries=6, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a) == 30  # 6 queries x top-5, no dupes
    recall = len(a & e) / len(e)
    # random baseline is k/(n-1) ~= 0.01; 16x16 PQ holds ~0.5
    assert recall >= 0.3, f"ADC recall@5 collapsed: {recall}"
    # the ADC plan never cross-joins: LUT and norms broadcast, the codes
    # scan is the only big side
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("trainer", ["kmeans_centroids", "train_pq"])
def test_trainer_rejects_sample_of_another_mod(spark, trainer):
    """A caller-owned ``sample=`` must have been drawn with the trainer's
    own ``sample_mod``: a sample of another mod, or a frame that is not a
    ``training_sample`` at all, raises instead of training silently on a
    sample the arguments do not describe."""
    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    train = {"kmeans_centroids": S.kmeans_centroids, "train_pq": PQ.train_pq}[
        trainer
    ]
    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    sample = S.training_sample(emb, 3)
    with pytest.raises(ValueError, match="sample_mod=3"):
        train(emb, sample_mod=5, sample=sample)
    with pytest.raises(ValueError, match="not a training_sample"):
        train(emb, sample_mod=3, sample=emb)


def test_ivfpq_prunes_and_scores_like_adc(spark):
    """(r13) IVFPQ = coarse-cell pruning x PQ codes: within each query's
    probed cells the ADC scores are IDENTICAL to pq_adc_topk's (same
    codebook, same LUT arithmetic), the candidate set is a strict subset
    of the corpus, and probing ALL cells reproduces exhaustive ADC
    exactly."""
    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    coarse = S.kmeans_centroids(emb)
    book = PQ.train_pq(emb)
    full = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in PQ.pq_adc_topk(
            emb, n_queries=5, k=5, codebook=book
        ).collect()
    }
    # all-cell probe == exhaustive ADC (pruning only drops candidates,
    # never rescores them)
    allcells = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in PQ.ivf_pq_topk(
            emb,
            n_queries=5,
            k=5,
            n_probes=S.IVF_CELLS,
            coarse=coarse,
            codebook=book,
        ).collect()
    }
    assert allcells == full
    pruned = PQ.ivf_pq_topk(
        emb, n_queries=5, k=5, n_probes=2, coarse=coarse, codebook=book
    ).collect()
    assert len(pruned) == 25
    # scores agree with exhaustive ADC wherever the pair survives pruning
    for r in pruned:
        key = (r["query_id"], r["neighbor_id"])
        if key in full:
            assert r["cos_sim"] == full[key]


def test_ivfpq_persisted_index_roundtrip(spark, tmp_path):
    """(r13) Persisted IVFPQ sidecar: the probe equals the in-memory
    ivf_pq_topk with the SAME persisted quantizers, reads only the
    probed cells' partitions, stores codes (never raw embeddings) in
    the postings, and refuses a stale index after table drift."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators.mor import read_mor

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivfpq")
    emb.write.parquet(tdir)
    n_cells = PQ.build_ivfpq_index(spark, tdir, id_col="vec_id")
    assert n_cells > 0
    root = PQ._ivfpq_root(tdir, "embedding")
    postings = spark.read.parquet(f"{root}/postings")
    assert postings.count() == emb.count()
    assert "embedding" not in postings.columns  # codes only: the 16x story
    assert "codes" in postings.columns
    got = PQ.ivfpq_search_indexed(spark, tdir, n_queries=6, k=4, n_probes=2)
    rows = got.collect()
    coarse = spark.read.parquet(f"{root}/coarse")
    book = spark.read.parquet(f"{root}/codebook")
    want = PQ.ivf_pq_topk(
        read_mor(spark, tdir).select("vec_id", "embedding"),
        n_queries=6,
        k=4,
        n_probes=2,
        coarse=coarse,
        codebook=book,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want)) and rows
    # the candidate read is partition-pruned to the probed cells only
    probed_files = PQ.ivfpq_search_indexed(
        spark, tdir, n_queries=6, k=4, n_probes=2
    ).inputFiles()
    cell_files = [f for f in probed_files if "/postings/cell=" in f]
    assert cell_files
    probed_cells = {f.split("cell=")[1].split("/")[0] for f in cell_files}
    all_cells = {
        f.split("cell=")[1].split("/")[0]
        for f in postings.inputFiles()
        if "cell=" in f
    }
    assert probed_cells < all_cells  # strict subset: pruning is real
    # drift (an append) trips the staleness gate; allow_stale opts out
    emb.limit(3).selectExpr(
        "vec_id + 500000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    with _pytest.raises(ValueError, match="STALE"):
        PQ.ivfpq_search_indexed(spark, tdir, n_queries=6, k=4)
    assert (
        PQ.ivfpq_search_indexed(
            spark, tdir, n_queries=6, k=4, allow_stale=True
        ).count()
        > 0
    )


def test_ivfpq_geometry_comes_from_the_index(spark, tmp_path):
    """(r14, ADVICE r13) The search path derives n_subs/dim from the
    persisted index, so a sidecar built with NON-DEFAULT geometry is
    searched correctly by a default-arg probe; a caller-passed geometry
    that contradicts the index raises instead of silently dropping every
    LUT join row; and a pre-geometry anchor (meta.json without
    n_subs/dim) still works via codebook derivation."""
    import json

    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators.mor import read_mor
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        _read_small_file,
        _write_small_file,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivfpq_geo")
    emb.where("vec_id < 400").write.parquet(tdir)
    # non-default geometry: 8 sub-quantizers (dsub=8), 8 codes
    PQ.build_ivfpq_index(spark, tdir, id_col="vec_id", n_subs=8, n_codes=8)
    root = PQ._ivfpq_root(tdir, "embedding")
    meta = json.loads(_read_small_file(spark, f"{root}/meta.json"))
    assert (meta["n_subs"], meta["n_codes"], meta["dim"]) == (8, 8, PQ.DIM)
    got = PQ.ivfpq_search_indexed(spark, tdir, n_queries=4, k=3)
    rows = got.collect()
    assert len(rows) == 12  # 4 queries x top-3: the LUT join held
    want = PQ.ivf_pq_topk(
        read_mor(spark, tdir).select("vec_id", "embedding"),
        n_queries=4,
        k=3,
        coarse=spark.read.parquet(f"{root}/coarse"),
        codebook=spark.read.parquet(f"{root}/codebook"),
        n_subs=8,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))
    # contradicting the index is a loud error, not an empty result
    with _pytest.raises(ValueError, match="n_subs=8"):
        PQ.ivfpq_search_indexed(spark, tdir, n_queries=4, k=3, n_subs=16)
    with _pytest.raises(ValueError, match=f"dim={PQ.DIM}"):
        PQ.ivfpq_search_indexed(spark, tdir, n_queries=4, k=3, dim=32)
    # legacy anchor without geometry keys: derived from the codebook
    _write_small_file(
        spark,
        f"{root}/meta.json",
        json.dumps(
            {"files": meta["files"], "n_vectors": meta["n_vectors"]},
            indent=0,
        ).encode(),
    )
    legacy = PQ.ivfpq_search_indexed(spark, tdir, n_queries=4, k=3).collect()
    assert sorted(map(tuple, legacy)) == sorted(map(tuple, want))


def test_maintain_ivfpq_index_folds_appends_and_deletes(spark, tmp_path):
    """(r14) maintain_ivfpq_index folds a deletion-vector batch and an
    append into the persisted codes postings by row identity — the
    PERSISTED codebooks encode the new rows, nothing retrains — and
    after every maintain the indexed ADC probe equals the in-memory
    ivf_pq_topk over read_mor with the same quantizers.  The anchor's
    geometry keys survive the maintain rewrite."""
    import json

    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        read_mor,
    )
    from sql_query_optimizer_cpp_spark.operators.mutate import (
        _read_small_file,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivfpq_maintain")
    emb.write.parquet(tdir)
    PQ.build_ivfpq_index(spark, tdir, id_col="vec_id")
    root = PQ._ivfpq_root(tdir, "embedding")
    base_n = spark.read.parquet(f"{root}/postings").count()
    book_before = sorted(
        map(tuple, spark.read.parquet(f"{root}/codebook").collect())
    )

    def parity(k=4):
        got = sorted(
            tuple(r)
            for r in PQ.ivfpq_search_indexed(
                spark, tdir, n_queries=6, k=k, n_probes=2
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in PQ.ivf_pq_topk(
                read_mor(spark, tdir).select("vec_id", "embedding"),
                n_queries=6,
                k=k,
                n_probes=2,
                coarse=spark.read.parquet(f"{root}/coarse"),
                codebook=spark.read.parquet(f"{root}/codebook"),
            ).collect()
        )
        assert got == want and got

    n_del = dv_delete_where(spark, tdir, "vec_id % 7 = 3")
    assert n_del > 0
    with _pytest.raises(ValueError, match="STALE"):
        PQ.ivfpq_search_indexed(spark, tdir, n_queries=6, k=4)
    st = PQ.maintain_ivfpq_index(spark, tdir, id_col="vec_id")
    assert st["removed"] == n_del and st["appended"] == 0
    assert st["cells_rewritten"] >= 1
    postings = spark.read.parquet(f"{root}/postings")
    assert postings.count() == base_n - n_del
    assert postings.where("vec_id % 7 = 3").count() == 0
    assert "embedding" not in postings.columns  # still codes-only
    parity()
    # idempotent when fresh
    assert PQ.maintain_ivfpq_index(spark, tdir, id_col="vec_id") == {
        "appended": 0,
        "removed": 0,
        "cells_rewritten": 0,
    }
    # append + second delete wave in ONE maintain; the delete hits both
    # indexed rows and a not-yet-indexed new row (1000004 % 7 = 5),
    # which the DV-aware append must skip
    emb.where("vec_id < 5").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    ).write.mode("append").parquet(tdir)
    n_del2 = dv_delete_where(spark, tdir, "vec_id % 7 = 5")
    st = PQ.maintain_ivfpq_index(spark, tdir, id_col="vec_id")
    assert st["appended"] == 4 and st["removed"] == n_del2 - 1
    postings = spark.read.parquet(f"{root}/postings")
    assert postings.count() == read_mor(spark, tdir).count()
    assert postings.where("vec_id = 1000004").count() == 0
    assert postings.where("vec_id >= 1000000").count() == 4
    parity()
    # the codebooks never retrained and the anchor kept its geometry
    book_after = sorted(
        map(tuple, spark.read.parquet(f"{root}/codebook").collect())
    )
    assert book_after == book_before
    meta = json.loads(_read_small_file(spark, f"{root}/meta.json"))
    assert (meta["n_subs"], meta["n_codes"], meta["dim"]) == (
        PQ.PQ_SUBS,
        PQ.PQ_CODES,
        PQ.DIM,
    )
    assert meta["n_vectors"] == postings.count()


def test_maintain_ivfpq_index_concurrent_maintainers(spark, tmp_path):
    """(r14) Two IVFPQ maintainers racing the same delete wave serialize
    on the index-scoped advisory lock exactly like the IVF pair (shared
    fold, shared lock discipline): one folds the batch, the other
    no-ops on the fresh anchor — never a double removal."""
    from concurrent.futures import ThreadPoolExecutor

    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators.mor import (
        dv_delete_where,
        read_mor,
    )

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    tdir = str(tmp_path / "emb_ivfpq_race")
    emb.write.parquet(tdir)
    PQ.build_ivfpq_index(spark, tdir, id_col="vec_id")
    n_del = dv_delete_where(spark, tdir, "vec_id % 11 = 4")
    assert n_del > 0
    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [
            ex.submit(
                PQ.maintain_ivfpq_index, spark, tdir, "embedding", "vec_id"
            )
            for _ in range(2)
        ]
        results = [f.result() for f in futs]
    assert sum(r["removed"] for r in results) == n_del
    assert sum(r["appended"] for r in results) == 0
    root = PQ._ivfpq_root(tdir, "embedding")
    postings = spark.read.parquet(f"{root}/postings")
    assert postings.count() == read_mor(spark, tdir).count()
    assert postings.where("vec_id % 11 = 4").count() == 0
    out = PQ.ivfpq_search_indexed(spark, tdir, n_queries=5, k=3, n_probes=2)
    assert out.count() > 0


def test_ivf_pq_refine_topk_exact_rerank(spark):
    """(r14) Refined IVFPQ (FAISS IndexRefineFlat shape): with all
    cells probed and refine >= corpus the result IS the exact
    brute-force top-k (the ADC stage only selects, never scores the
    output); with real pruning every emitted cosine is the EXACT
    cosine (bit-equal to brute force for every surviving pair); and
    refine < k is a loud error."""
    import pytest as _pytest

    from sql_query_optimizer_cpp_spark.operators import pq as PQ
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    n = emb.count()
    coarse = S.kmeans_centroids(emb)
    book = PQ.train_pq(emb)
    exact = S.brute_force_topk(emb, n_queries=5, k=5)
    full = PQ.ivf_pq_refine_topk(
        emb,
        n_queries=5,
        k=5,
        refine=n,
        n_probes=S.IVF_CELLS,
        coarse=coarse,
        codebook=book,
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exact.collect())
    )
    # pruned + thin refine: scores are still TRUE cosines — compare
    # against the exhaustive exact ranking over all pairs
    all_exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in S.brute_force_topk(emb, n_queries=5, k=n).collect()
    }
    pruned = PQ.ivf_pq_refine_topk(
        emb, n_queries=5, k=5, refine=15, n_probes=2,
        coarse=coarse, codebook=book,
    ).collect()
    assert len(pruned) == 25
    for r in pruned:
        assert r["cos_sim"] == all_exact[(r["query_id"], r["neighbor_id"])]
    with _pytest.raises(ValueError, match="refine"):
        PQ.ivf_pq_refine_topk(emb, n_queries=5, k=5, refine=3)


def test_sq8_grid_codes_and_recall(spark):
    """(r14) SQ8 scalar quantization: the grid covers every dimension,
    codes stay in [0, 255] with the corpus max landing on the top code,
    and compressed-exhaustive search over the 4x representation is
    near-exact (SQ8 is the recall-precious tier of the compression
    ladder — far above PQ's approximate recall)."""
    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators import sq as SQ

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    n = emb.count()
    grid = SQ.train_sq(emb)
    assert grid.count() == SQ.DIM
    assert grid.where("step < 0").count() == 0
    codes = SQ.sq_encode(emb, grid)
    assert codes.count() == n * SQ.DIM
    rng = codes.agg(F.min("code").alias("lo"), F.max("code").alias("hi")).first()
    assert rng["lo"] >= 0 and rng["hi"] <= SQ.SQ_LEVELS
    approx = SQ.sq_topk(emb, n_queries=6, k=5, grid=grid)
    exact = S.brute_force_topk(emb, n_queries=6, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a) == 30
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"SQ8 recall@5 collapsed: {recall}"
    # compressed-exhaustive plan: grid + query sides broadcast, the
    # codes scan is the only big side — no cartesian, no BNLJ
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_codes_match_duckdb_replay(spark):
    """(r14) Cross-engine determinism of the SQ8 pipeline — the de-risk
    for the r15 oracle: the grid arithmetic (min/max, step, floor-clamp
    encode, midpoint reconstruction, decimal-exact cosine) evaluated
    with identical IEEE-754 expression shapes yields BIT-IDENTICAL
    codes and search results in Spark and DuckDB, including the
    boundary component (x == per-dim max) whose (hi-lo)/step floors on
    the 255-edge."""
    import duckdb

    from sql_query_optimizer_cpp_spark.operators import similarity as S
    from sql_query_optimizer_cpp_spark.operators import sq as SQ

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    base = """
WITH f AS (
  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS xd
  FROM embeddings),
grid AS (
  SELECT pos, MIN(xd) AS lo, (MAX(xd) - MIN(xd)) / 255.0 AS step
  FROM f GROUP BY pos),
codes AS (
  SELECT f.vec_id, f.pos,
         CASE WHEN g.step = 0 THEN 0
              ELSE LEAST(255, CAST(FLOOR((f.xd - g.lo) / g.step) AS INT))
         END AS code
  FROM f JOIN grid g ON f.pos = g.pos)
"""
    # codes: bit-identical (DuckDB pos is 1-based; Spark's is 0-based)
    duck_codes = {
        (r[0], r[1] - 1): r[2]
        for r in con.execute(base + "SELECT vec_id, pos, code FROM codes").fetchall()
    }
    spark_codes = {
        (r["vec_id"], r["pos"]): r["code"]
        for r in SQ.sq_encode(emb).collect()
    }
    assert spark_codes == duck_codes
    # search results: bit-identical cosines and ranks
    nq, k = 6, 5
    duck_rows = con.execute(
        base
        + f""",
rec AS (
  SELECT c.vec_id, c.pos, g.lo + (c.code + 0.5) * g.step AS xh
  FROM codes c JOIN grid g ON c.pos = g.pos),
e AS (SELECT vec_id, {S.normsq_expr("embedding", duck=True, exact=True)} AS nsq
      FROM embeddings),
q AS (SELECT vec_id AS query_id, pos, xd AS qd FROM f WHERE vec_id < {nq}),
qn AS (SELECT vec_id AS query_id, nsq AS q_nsq FROM e WHERE vec_id < {nq}),
cand AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         CAST(SUM(CAST(q.qd * r.xh AS DECIMAL(28,20))) AS DOUBLE) AS dotq,
         CAST(SUM(CAST(r.xh * r.xh AS DECIMAL(28,20))) AS DOUBLE) AS xh_nsq
  FROM rec r JOIN q ON r.pos = q.pos AND r.vec_id <> q.query_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT c.query_id, c.neighbor_id,
         round(c.dotq / (sqrt(n.q_nsq) * sqrt(c.xh_nsq)), 6) AS cos_sim,
         CAST(row_number() OVER (PARTITION BY c.query_id
              ORDER BY round(c.dotq / (sqrt(n.q_nsq) * sqrt(c.xh_nsq)), 6)
                       DESC, c.neighbor_id) AS BIGINT) AS rn
  FROM cand c JOIN qn n ON c.query_id = n.query_id) t
WHERE rn <= {k}
"""
    ).fetchall()
    spark_rows = SQ.sq_topk(emb, n_queries=nq, k=k).collect()
    assert sorted(map(tuple, spark_rows)) == sorted(map(tuple, duck_rows))
    assert len(spark_rows) == nq * k


# -- r15: pin the distributed assignment FALLBACK equal to the literal
# fast path (VERDICT r14 "what's wrong" #2).  At production codebook
# sizes (cells*dim > literalAssignMaxTerms) the explode+join pipeline IS
# the hot path; without these tests it could rot silently behind the
# fixture-scale literal path.


import contextlib as _ctx


@_ctx.contextmanager
def _forced_fallback(spark):
    """Session scope with literalAssignMaxTerms=0: every assignment takes
    the distributed explode+join pipeline."""
    key = "spark.sqlopt.ann.literalAssignMaxTerms"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "0")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _no_cartesian(df):
    """The fallback must stay an equi-join pipeline — no cartesian blowup."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fallback_ivf_assign_equals_literal(spark):
    from sql_query_optimizer_cpp_spark.operators import similarity as S

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    book = S.kmeans_centroids(emb)
    for top_p in (1, 2):
        lit = sorted(
            map(tuple, S.assign_cells_fast(emb, book, top_p=top_p).collect())
        )
        with _forced_fallback(spark):
            assert S._centroid_consts(spark, book) is None  # gate engaged
            fb_df = S.assign_cells_fast(emb, book, top_p=top_p)
            _no_cartesian(fb_df)
            fb = sorted(map(tuple, fb_df.collect()))
        assert fb == lit, f"fallback diverged from literal path at top_p={top_p}"


def test_fallback_pq_encode_equals_literal(spark):
    from sql_query_optimizer_cpp_spark.operators import pq as PQ

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    book = PQ.train_pq(emb)
    lit = sorted(map(tuple, PQ.pq_encode(emb, book).collect()))
    with _forced_fallback(spark):
        assert PQ._pq_consts(spark, book) is None  # gate engaged
        fb_df = PQ.pq_encode(emb, book)
        _no_cartesian(fb_df)
        fb = sorted(map(tuple, fb_df.collect()))
    assert fb == lit, "fallback PQ encoding diverged from literal path"


def test_fallback_ivfpq_probe_equals_literal(spark, tmp_path):
    """Build the sidecar under the FALLBACK (distributed training,
    assignment and encode), then probe it under both paths: the persisted
    index and the serving read must be bit-identical to the
    literal-path build + probe."""
    from sql_query_optimizer_cpp_spark.operators import pq as PQ

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    lit_dir = str(tmp_path / "lit")
    fb_dir = str(tmp_path / "fb")
    emb.write.parquet(lit_dir)
    emb.write.parquet(fb_dir)
    PQ.build_ivfpq_index(spark, lit_dir, id_col="vec_id")
    lit = sorted(
        map(
            tuple,
            PQ.ivfpq_search_indexed(
                spark, lit_dir, n_queries=10, k=5, n_probes=2
            ).collect(),
        )
    )
    with _forced_fallback(spark):
        PQ.build_ivfpq_index(spark, fb_dir, id_col="vec_id")
        fb_df = PQ.ivfpq_search_indexed(
            spark, fb_dir, n_queries=10, k=5, n_probes=2
        )
        _no_cartesian(fb_df)
        fb = sorted(map(tuple, fb_df.collect()))
    assert fb == lit, "fallback IVFPQ build+probe diverged from literal path"
    # cross-path: the fallback-built sidecar serves identically through
    # the literal probe too (codebooks/codes round-trip bit-exactly)
    cross = sorted(
        map(
            tuple,
            PQ.ivfpq_search_indexed(
                spark, fb_dir, n_queries=10, k=5, n_probes=2
            ).collect(),
        )
    )
    assert cross == lit
