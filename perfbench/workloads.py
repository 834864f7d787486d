"""The benchmark's workloads.

Every workload is a closed loop with one client: the next operation is
issued only after the previous one returned.  A workload stages its inputs
in :meth:`Workload.setup`, names the operations of its warm-up pass, then
yields *passes* — lists of operations whose kind mix is the same in every
pass, so every run measures one whole pass of that mix whatever the seed.
The seed fixes the operation order and every generated statement, key and
SQL text.

Correctness is counted per operation: an operation fails when it raises or
when its result disagrees with the DuckDB oracle, which :meth:`verify`
evaluates once per run after the timed loop.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import stats
from .trace import Tracer, catalyst_phases


@dataclass
class Op:
    kind: str                      # e.g. "tpch_q1", "commit.update.cow"
    category: str                  # "query", "commit" or "maintenance"
    fn: Callable[[str], object]    # called with the op's job group id
    after: Callable[[], None] | None = None  # bookkeeping, not timed
    detail: str = ""               # the SQL text or statement it runs


@dataclass
class Sample:
    kind: str
    category: str
    wall_s: float
    ok: bool
    check: tuple | None = None     # (key, observed) verified after the loop
    cpu_s: float = 0.0             # CPU time of the driver thread and the JVM


@dataclass
class Context:
    spark: object
    sf_dir: str
    work_dir: str
    seed: int
    tracer: Tracer
    rng: random.Random = field(init=False)
    samples: list[Sample] = field(default_factory=list)
    check: tuple | None = None     # set by an op; moved onto its Sample
    cpu: object = None             # trace.CpuClock of the session

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def observe(self, key, value) -> None:
        self.check = (key, value)


class Workload:
    name = ""
    #: whether the warm-up pass may run its ops concurrently
    parallel_warmup = True
    #: whole passes a traced run makes, so that it covers every op kind
    traced_passes = 1

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def warmup_pass(self, ctx: Context) -> list[Op]:
        """The operations of the one warm-up pass.  It is one pass, not
        "until pass times level off": pass times keep drifting by about a
        tenth for over a minute (the JIT compiles throughout), so a
        levelling rule would stop on noise and make set-up time vary."""
        raise NotImplementedError

    def passes(self, ctx: Context) -> Iterator[list[Op]]:
        raise NotImplementedError

    def verify(self, ctx: Context) -> list[str]:
        """Run the oracle checks, mark failing samples, return problems."""
        raise NotImplementedError

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        return {}


def _count_traced(ctx: Context, df, span: str) -> int:
    """``df.count()``; when tracing, the same aggregate is run through a
    DataFrame the harness keeps, so its QueryExecution can be read."""
    tr = ctx.tracer
    if not tr.enabled:
        return df.count()
    cdf = df.groupBy().count()
    with tr.span(span):
        n = cdf.collect()[0][0]
    with tr.overhead():
        inner = catalyst_phases(df)
        outer = catalyst_phases(cdf)
    tr.count("catalyst.analysis_ms", inner["analysis"] + outer["analysis"])
    tr.count("catalyst.optimization_ms", outer["optimization"])
    tr.count("catalyst.planning_ms", outer["planning"])
    return n


def _check_failures(ctx: Context, expected: dict) -> list[str]:
    problems = []
    for s in ctx.samples:
        if s.check is None:
            continue
        key, got = s.check
        want = expected.get(key)
        if want is None or got != want:
            s.ok = False
            problems.append(f"{s.kind}: {key} gave {got}, oracle {want}")
    return problems


def _duckdb(sf_dir: str):
    import duckdb

    from .datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


# -- olap_interactive ----------------------------------------------------------

OLAP_QUERIES = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q19", "flagship_demo",
    "agg_having", "agg_rollup", "join_three_way", "join_inner", "join_asof",
    "join_range", "win_topk_per_group", "scalar_subquery_agg",
    "events_tumbling", "events_session", "events_rollup_hypertable",
    "events_funnel",
)

#: an LLM-pipeline query run beside them, so ``operators/`` (text and
#: curation) is measured too
PIPELINE_QUERIES = ("curation_pipeline_e2e",)

PLAN_CALLS = ("optimize", "explain", "transform_log", "cost", "join_order_advice")

#: Texts whose shape ``Engine.join_order_advice`` documents as out of scope
#: (outer joins; derived tables spanning several base relations); the
#: planning pool leaves them out so every sampled text takes all five calls.
ADVICE_UNSUPPORTED = frozenset({
    "complex_q2", "recursive_cte_chain", "tpch_q7", "tpch_q8", "tpch_q9",
    "tpch_q11", "tpch_q13",
})


def shared_sql_texts() -> dict[str, str]:
    """The Spark SQL text of every inventory query registered through
    ``shared_sql`` (its spec function closes over the text)."""
    from sql_query_optimizer_cpp_spark.inventory import all_queries

    out = {}
    for name, spec in all_queries().items():
        if spec.fn.__name__ == f"q_{name}":
            out[name] = inspect.getclosurevars(spec.fn).nonlocals["sql"]
    return out


def _valid(call: str, result) -> bool:
    """A plan, report or advice must render non-empty; a transform log may
    be empty (no rewrite applied to the text) but must be a log."""
    if call == "transform_log":
        return isinstance(result.entries, list)
    if call == "join_order_advice":
        return bool(result.order) and bool(result.render().strip())
    text = result.render() if call == "optimize" else str(result)
    return bool(text.strip())


class OlapInteractive(Workload):
    """An analyst's session.  Each pass runs the analytic headline queries
    and an LLM-pipeline query, each built through its inventory spec and
    ``.count()``-ed, plus the optimizer front end — ``Engine.optimize`` / ``explain`` /
    ``transform_log`` / ``cost`` / ``join_order_advice`` — on one
    seed-sampled ``shared_sql`` text, which is planned and never executed.
    All of it in seed-shuffled order."""

    name = "olap_interactive"

    def setup(self, ctx: Context) -> None:
        from sql_query_optimizer_cpp_spark.engine import Engine
        from sql_query_optimizer_cpp_spark.inventory import all_queries

        registry = all_queries()
        self.specs = {n: registry[n] for n in OLAP_QUERIES + PIPELINE_QUERIES}
        self.texts = {n: t for n, t in shared_sql_texts().items()
                      if n not in ADVICE_UNSUPPORTED}
        self.engine = Engine(ctx.spark)  # views are registered by the runner

    def warmup_pass(self, ctx: Context) -> list[Op]:
        """One pass that collects each query's rows instead of counting
        them, for the value check in :meth:`verify`."""
        self.digests: dict[str, str] = {}
        return [self._digest_op(ctx, op.kind) if op.kind in self.specs else op
                for op in next(self.passes(ctx))]

    def _digest_op(self, ctx: Context, name: str) -> Op:
        spec = self.specs[name]

        def fn(group: str) -> None:
            sdf = spec.fn(ctx.spark, ctx.sf_dir)
            self.digests[name] = stats.digest(sdf.columns, [tuple(r) for r in sdf.collect()])

        return Op(name, "warmup", fn)

    def _query_op(self, ctx: Context, name: str) -> Op:
        spec = self.specs[name]

        def fn(group: str) -> None:
            tr = ctx.tracer
            with tr.span("inventory.build"):
                df = spec.fn(ctx.spark, ctx.sf_dir)
            if tr.enabled:
                with tr.overhead():
                    tracker = ctx.spark.sparkContext.statusTracker()
                    eager = len(tracker.getJobIdsForGroup(group))
                tr.count("inventory.eager_jobs", eager)
            ctx.observe(name, _count_traced(ctx, df, "exec.action"))

        return Op(name, "query", fn, detail=name)

    def _plan_op(self, ctx: Context, name: str, call: str) -> Op:
        text = self.texts[name]

        def fn(group: str) -> bool:
            tr = ctx.tracer
            with tr.span(f"plans.{call}"):
                ok = _valid(call, getattr(self.engine, call)(text))
            if tr.enabled:
                # the Catalyst phases of the same text, planned once more by
                # the harness (the engine's own QueryExecution is internal)
                with tr.span("catalyst.replan"), tr.overhead():
                    df = ctx.spark.sql(text)
                    df._jdf.queryExecution().executedPlan()
                    for k, v in catalyst_phases(df).items():
                        tr.count(f"catalyst.{k}_ms", v)
            return ok

        return Op(f"plan.{call}", "query", fn, detail=name)

    def passes(self, ctx: Context) -> Iterator[list[Op]]:
        while True:
            text = ctx.rng.choice(sorted(self.texts))
            ops = [self._query_op(ctx, n) for n in self.specs]
            ops += [self._plan_op(ctx, text, c) for c in PLAN_CALLS]
            ctx.rng.shuffle(ops)
            yield ops

    def verify(self, ctx: Context) -> list[str]:
        digests = self.digests  # a query whose warm-up op raised has none
        con = _duckdb(ctx.sf_dir)
        expected, problems = {}, []
        for name, oracle in ((n, spec.oracle) for n, spec in self.specs.items()):
            cols, drows = stats.duckdb_rows(con.sql(oracle))
            expected[name] = len(drows)
            if digests.get(name) != stats.digest(cols, drows):
                problems.append(f"{name}: value digest differs from the oracle")
                expected[name] = None  # every op of this query failed
        con.close()
        problems += [f"{s.kind}: empty or missing plan"
                     for s in ctx.samples if s.kind.startswith("plan.") and not s.ok]
        return problems + _check_failures(ctx, expected)


# -- lakehouse_rw ----------------------------------------------------------------

MODES = ("cow", "occ", "mor")
VERBS = ("update", "delete", "merge")
_N_SOURCES = 6
_NEW_KEY_BASE = 10_000_000


class LakehouseRW(Workload):
    """UPDATE / DELETE / MERGE through ``Engine.dml`` on two staged,
    versioned copies of ``orders`` — one copy-on-write (locked and
    optimistic commits), one merge-on-read — interleaved with reads of the
    live tables, old versions, change feeds and a hot persisted frame no
    commit touches."""

    name = "lakehouse_rw"

    # -- staging -------------------------------------------------------------
    def paths(self, ctx: Context) -> dict[str, str]:
        root = os.path.join(ctx.work_dir, "lakehouse")
        return {
            "cow": os.path.join(root, "orders_cow"),
            "mor": os.path.join(root, "orders_mor"),
            "sources": os.path.join(root, "merge_sources"),
        }

    def stage(self, ctx: Context, tables=("cow", "mor")) -> None:
        """(Re)create order tables from the base fixture, clustered on the
        key into 8 files, and start their version logs.  The first table
        is written by Spark, the others are file copies of it."""
        spark, p = ctx.spark, self.paths(ctx)
        base = spark.read.parquet(os.path.join(ctx.sf_dir, "orders.parquet"))
        for t in tables:
            shutil.rmtree(p[t], ignore_errors=True)
        (base.repartitionByRange(8, "o_orderkey")
         .sortWithinPartitions("o_orderkey")
         .write.parquet(p[tables[0]]))
        for t in tables[1:]:
            shutil.copytree(p[tables[0]], p[t])
        for t in tables:
            self.engine.enable_versioning(p[t])
        self.versions = {"cow": 1, "mor": 1}
        self.log = {"cow": [], "mor": []}

    def _stage_sources(self, ctx: Context) -> None:
        """MERGE sources: existing keys with new prices plus fresh keys."""
        orders = pq.read_table(os.path.join(ctx.sf_dir, "orders.parquet"))
        n = orders.num_rows
        rng = random.Random(ctx.seed * 7919 + 1)
        for i, path in enumerate(self.sources):
            matched = orders.take(sorted(rng.sample(range(n), 40)))
            fresh = orders.take(rng.sample(range(n), 10))
            keys = [_NEW_KEY_BASE + i * 100 + j for j in range(10)]
            fresh = fresh.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))
            src = pa.concat_tables([matched, fresh])
            prices = [round(rng.uniform(1000, 500000), 2) for _ in range(src.num_rows)]
            src = src.set_column(
                src.schema.get_field_index("o_totalprice"), "o_totalprice",
                pa.array(prices, pa.float64()),
            )
            os.makedirs(path, exist_ok=True)
            pq.write_table(src, os.path.join(path, "part-0.parquet"))

    def plan_state(self, ctx: Context) -> None:
        """The seeded state the statement generator draws from."""
        self.stmt_rng = random.Random(ctx.seed * 104729 + 3)
        self.n_merges = 0
        self.sources = [
            os.path.join(self.paths(ctx)["sources"], f"s{i}")
            for i in range(_N_SOURCES)
        ]

    def setup(self, ctx: Context) -> None:
        from sql_query_optimizer_cpp_spark.engine import Engine

        spark = ctx.spark
        self.engine = Engine(spark)
        self.plan_state(ctx)
        self.stage(ctx)
        self._stage_sources(ctx)
        self.hot = spark.sql(
            "SELECT n_name, COUNT(*) AS n, SUM(c_acctbal) AS bal "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY n_name"
        ).persist()
        self.hot_rows = self.hot.count()
        self.survived = []  # appended to by commits on the measured tables

    parallel_warmup = False  # commits on one table must not overlap
    traced_passes = len(MODES)  # every verb in every mode

    def warmup_pass(self, ctx: Context) -> list[Op]:
        """One whole pass on the measured tables: without it the first
        timed pass runs about a third slower while the commit paths are
        compiled.  Its statements are logged and replayed by
        :meth:`verify` like the timed ones."""
        return next(self.passes(ctx))

    # -- statements ------------------------------------------------------------
    def _statement(self, verb: str) -> str:
        """One seeded statement.  The shape is fixed per verb — a key
        range of fixed width, so a commit touches one or two of the eight
        files whatever the seed — and the seed picks keys and values."""
        r = self.stmt_rng
        if verb == "update":
            lo = r.randrange(0, 14_000)
            prio = r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            return (f"UPDATE o SET o_totalprice = o_totalprice + {r.randint(1, 99)}, "
                    f"o_orderpriority = '{prio}' "
                    f"WHERE o_orderkey BETWEEN {lo} AND {lo + 200}")
        if verb == "delete":
            lo = r.randrange(0, 14_000)
            return f"DELETE FROM o WHERE o_orderkey BETWEEN {lo} AND {lo + 40}"
        return ("MERGE INTO o USING s ON o.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
                "WHEN NOT MATCHED THEN INSERT")

    def _after_commit(self, ctx: Context, table: str, entry: tuple) -> Callable[[], None]:
        def after() -> None:
            version = self.engine.table_versions(self.paths(ctx)[table])[-1]
            self.versions[table] = version
            self.log[table].append((*entry, version))  # replayed by verify
            sl = self.hot._jdf.storageLevel()
            self.survived.append(bool(sl.useMemory() or sl.useDisk()))

        return after

    def _commit(self, ctx: Context, verb: str, mode: str) -> Op:
        table = "mor" if mode == "mor" else "cow"
        text = self._statement(verb)
        src, detail = None, text
        if verb == "merge":
            src = self.sources[self.n_merges % _N_SOURCES]
            detail += f" (source s{self.n_merges % _N_SOURCES})"
            self.n_merges += 1
        tables = {"o": self.paths(ctx)[table], **({"s": src} if src else {})}

        def fn(group: str) -> None:
            tr = ctx.tracer
            with tr.span(f"dml.commit.{verb}.{mode}"):
                st = self.engine.dml(text, tables, optimistic=mode == "occ",
                                     mor=mode == "mor")
            if mode != "mor":
                tr.count("dml.files_rewritten_per_commit", st.files_rewritten)

        return Op(f"commit.{verb}.{mode}", "commit", fn,
                  self._after_commit(ctx, table, (verb, text, src)),
                  detail=detail)

    def _materialize(self, ctx: Context) -> Op:
        def fn(group: str) -> None:
            with ctx.tracer.span("mor.materialize"):
                self.engine.materialize_deletes(self.paths(ctx)["mor"])

        return Op("materialize", "maintenance", fn,
                  self._after_commit(ctx, "mor", ("materialize", None, None)))

    # -- reads -------------------------------------------------------------------
    def _changes(self, ctx: Context, t: str) -> Op:
        """Change feed of table ``t`` over its last two versions."""
        def fn(group: str) -> None:
            hi = self.versions[t]
            lo = max(1, hi - 2)
            with ctx.tracer.span("cdf.read_changes"):
                df = self.engine.read_changes(self.paths(ctx)[t], lo, hi)
                n = _count_traced(ctx, df, "exec.action")
            ctx.observe(("changes", t, lo, hi), n)

        return Op(f"read_changes_{t}", "query", fn, detail=f"read_changes_{t}")

    def _read(self, ctx: Context, kind: str) -> Op:
        """``table_<t>`` reads the live table, ``version_<t>`` the version
        before its latest (a fixed choice: the cost of reading a version
        depends on which one); ``hot`` counts the persisted frame."""
        p, tr = self.paths(ctx), ctx.tracer

        def fn(group: str) -> bool | None:
            eng = self.engine
            t = kind.rpartition("_")[2]
            if kind.startswith("table_"):
                with tr.span("mor.read"):
                    n = _count_traced(ctx, eng.table(p[t]), "exec.action")
                ctx.observe(("count", t, self.versions[t]), n)
            elif kind.startswith("version_"):
                v = max(1, self.versions[t] - 1)
                with tr.span("versioning.read_version"):
                    n = _count_traced(ctx, eng.read_version(p[t], v), "exec.action")
                ctx.observe(("count", t, v), n)
            else:  # hot
                with tr.span("cache.hot_read"):
                    sl = self.hot._jdf.storageLevel()
                    if not (sl.useMemory() or sl.useDisk()):
                        self.hot.persist()
                    return _count_traced(ctx, self.hot, "exec.action") == self.hot_rows
            return None

        return Op(kind, "query", fn, detail=kind)

    def passes(self, ctx: Context) -> Iterator[list[Op]]:
        """A pass holds one commit per verb and one per mode.  The pairing
        shifts by one mode each pass, so any three consecutive passes cover
        every verb in every mode; it starts at the same pairing whatever
        the seed, so every run measures the same commit mix.  Each commit is
        followed by reads of the live table it wrote, of the version before
        it and of the hot frame; the pass ends with a change
        feed read of each table and by materializing the merge-on-read
        table's deletes."""
        shift = 0
        self.survived = []  # survival counts the commits of these passes only
        while True:
            pairs = [(verb, MODES[(j + shift) % len(MODES)]) for j, verb in enumerate(VERBS)]
            ctx.rng.shuffle(pairs)
            ops: list[Op] = []
            for verb, mode in pairs:
                t = "mor" if mode == "mor" else "cow"
                ops.append(self._commit(ctx, verb, mode))
                ops += [self._read(ctx, k) for k in (f"table_{t}", f"version_{t}", "hot")]
            ops += [self._changes(ctx, "cow"), self._changes(ctx, "mor"),
                    self._materialize(ctx)]
            shift += 1
            yield ops

    # -- oracle ----------------------------------------------------------------
    def replay(self, con, ctx: Context, table: str) -> dict[int, str]:
        """Replay ``table``'s committed statements in DuckDB on the base
        parquet; return ``{version: snapshot table name}``."""
        base = os.path.join(ctx.sf_dir, "orders.parquet")
        con.execute(f"CREATE OR REPLACE TABLE o AS SELECT * FROM read_parquet('{base}')")
        snaps = {}

        def snap(v: int) -> None:
            name = f"snap_{table}_{v}"
            con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM o")
            snaps[v] = name

        snap(1)
        for verb, text, src, version in self.log[table]:
            if verb == "merge":
                con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM "
                            f"read_parquet('{src}/*.parquet')")
                con.execute("UPDATE o SET o_totalprice = s.o_totalprice FROM s "
                            "WHERE o.o_orderkey = s.o_orderkey")
                con.execute("INSERT INTO o SELECT * FROM s WHERE o_orderkey "
                            "NOT IN (SELECT o_orderkey FROM o)")
            elif verb != "materialize":
                con.execute(text)
            snap(version)
        return snaps

    @staticmethod
    def table_digest_duckdb(con, name: str) -> str:
        cols, rows = stats.duckdb_rows(con.sql(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, "
            f"o_orderpriority FROM {name}"))
        return stats.digest(cols, rows)

    @staticmethod
    def table_digest_spark(df) -> str:
        sdf = df.selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate",
            "o_orderpriority")
        return stats.digest(sdf.columns, [tuple(r) for r in sdf.collect()])

    def verify(self, ctx: Context) -> list[str]:
        con = _duckdb(ctx.sf_dir)
        expected, problems = {}, []
        for t in ("cow", "mor"):
            snaps = self.replay(con, ctx, t)
            for v, name in snaps.items():
                expected[("count", t, v)] = con.sql(f"SELECT COUNT(*) FROM {name}").fetchone()[0]
            for s in ctx.samples:
                if s.check and s.check[0][0] == "changes" and s.check[0][1] == t:
                    _, _, lo, hi = s.check[0]
                    a, b = snaps[lo], snaps[hi]
                    expected[s.check[0]] = con.sql(
                        f"SELECT (SELECT COUNT(*) FROM (SELECT * FROM {b} EXCEPT ALL "
                        f"SELECT * FROM {a})) + (SELECT COUNT(*) FROM (SELECT * FROM "
                        f"{a} EXCEPT ALL SELECT * FROM {b}))").fetchone()[0]
            final = snaps[self.versions[t]]
            if self.table_digest_spark(self.engine.table(self.paths(ctx)[t])) != \
                    self.table_digest_duckdb(con, final):
                problems.append(f"orders_{t}: final table digest differs from the replay")
        con.close()
        return problems + _check_failures(ctx, expected)

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        ratio = sum(self.survived) / len(self.survived) if self.survived else 0.0
        return {"cache.hot_survival_ratio": ratio}


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (OlapInteractive, LakehouseRW)
}
