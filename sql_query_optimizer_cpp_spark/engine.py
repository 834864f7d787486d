"""Engine: the reference's capability surface on a SparkSession.

The reference's lifecycle is lex -> parse -> validate -> optimize (rewrites
+ cost-based plan choice) -> explain/trace -> execute-by-delegation
(SURVEY.md §3).  The Spark-native equivalent keeps the same user-visible
verbs with Catalyst doing the work:

    eng = Engine(spark, sf_dir)         # session + catalog (views)
    eng.sql(text)                       # execute -> DataFrame
    eng.dml(text, tables)               # UPDATE/DELETE/MERGE, executed
                                        #   copy-on-write (ref: parse-only)
    eng.explain(text)                   # reference-style plan tree + stats
    eng.optimize(text)                  # trace + plan tree WITHOUT executing
                                        #   (= the standalone sqlopt.cpp path)
    eng.transform_log(text)             # optimizer rules that fired, timed by
                                        #   Catalyst's planning tracker (R9)
    eng.cost(text)                      # 4-component cost report (§4.2)
    eng.join_order_advice(text)         # genetic join-order recommendation
    eng.analyze(); eng.table_stats(t)   # stats harvest + readback (S4)

Every verb plans the text through :meth:`Engine.sql`, so what explain,
trace, cost and advice describe is the query ``sql()`` runs.  Errors surface
as Spark AnalysisException with Catalyst's own suggestions (the reference's
semantic validator warns and suggests via Levenshtein,
``engine/include/utils.h:23-45``; Spark's analyzer does the same with
"Did you mean ...?").
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import catalog
from .plans.cost import CostReport, cost_report
from .plans.explain import explain_full, explain_tree
from .plans.trace import TransformLog, build_transform_log


@dataclass
class OptimizeReport:
    """What ``EXPLAIN``+trace shows, without executing — the equivalent of
    the standalone optimizer's output (``sqlopt.cpp:727-798``)."""

    original_sql: str
    transform_log: TransformLog
    plan_tree: str

    def render(self) -> str:
        return f"{self.transform_log.render()}\n\n{self.plan_tree}"


@dataclass
class JoinOrderAdvice:
    """Result of :meth:`Engine.join_order_advice`."""

    order: list[str]
    cost: float
    as_written: list[str]
    as_written_cost: float
    table_rows: dict[str, int]

    def render(self) -> str:
        return (
            f"as written: {' JOIN '.join(self.as_written)}  "
            f"(cost {self.as_written_cost:,.1f})\n"
            f"advised:    {' JOIN '.join(self.order)}  "
            f"(cost {self.cost:,.1f})"
        )


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        if sf_dir:
            catalog.register_views(spark, sf_dir)

    # -- execute ---------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        """Parse/optimize/execute via Catalyst (entry point A, SURVEY §3.1);
        every other planning verb goes through here too."""
        return self.spark.sql(text)

    def frame(self, name: str) -> DataFrame:
        """DataFrame-builder entry: a registered table by name (S1 scan)."""
        return self.spark.table(name)

    # -- optimize without executing (entry point C, SURVEY §3.3) ----------
    def optimize(self, text: str) -> OptimizeReport:
        df = self.sql(text)  # plans lazily; nothing executes
        return OptimizeReport(
            original_sql=text,
            transform_log=build_transform_log(df),
            plan_tree=explain_tree(df),
        )

    # -- DML (S7/S8 executed; the reference parses and stops) --------------
    def dml(
        self,
        text: str,
        tables: dict[str, str],
        optimistic: bool = False,
        mor: bool = False,
    ):
        """Execute UPDATE / DELETE / MERGE copy-on-write against parquet
        table directories (``tables`` maps statement table names to
        paths).  The reference builds the AST for these and refuses to
        run them (engine/src/parser.cpp:232-296); this executes via
        operators.mutate with file-level pruning.  Returns MutationStats.

        ``optimistic=True`` commits UPDATE/DELETE/MERGE multi-writer,
        commit-or-retry (flat and hive-partitioned; the protocol is in
        operators/commit.py).  ``mor=True`` runs UPDATE/DELETE/MERGE
        merge-on-read (deletion vectors, operators/mor.py) — O(changed
        rows), no file rewrites; read the table back via read_mor until
        materialize_deletes.  Both compose: optimistic merge-on-read
        writers on disjoint files commit first-attempt.

        Deliberately takes explicit paths rather than the engine's
        fixture views: the fixtures are read-only test inputs, and a DML
        surface that could silently point at them would be a footgun.
        """
        from .operators.dml_sql import execute_dml

        return execute_dml(
            self.spark, text, tables, optimistic=optimistic, mor=mor
        )

    # -- version log (MVCC for readers over COW tables) --------------------
    def enable_versioning(self, path: str) -> int:
        """Start the auto-version log on a COW table dir: every later DML
        through :meth:`dml` commits the next numbered version inside the
        writer lock (see operators.mutate)."""
        from .operators.versioning import enable_versioning

        return enable_versioning(self.spark, path)

    def table_versions(self, path: str) -> list[int]:
        from .operators.versioning import table_versions

        return table_versions(self.spark, path)

    def read_version(self, path: str, version: int | None = None) -> DataFrame:
        """The table exactly as of ``version`` (default latest) — readers
        pinned here are isolated from concurrent writers."""
        from .operators.versioning import read_version

        return read_version(self.spark, path, version)

    def read_as_of(self, path: str, timestamp: str) -> DataFrame:
        """Wall-clock time travel: the newest version committed at or
        before ``timestamp`` (operators.versioning.read_as_of)."""
        from .operators.versioning import read_as_of

        return read_as_of(self.spark, path, timestamp)

    def version_history(
        self, path: str, last: int | None = None
    ) -> list[tuple[int, str]]:
        from .operators.versioning import version_history

        return version_history(self.spark, path, last)

    def table(self, path: str) -> DataFrame:
        """The current, CORRECT contents of a DML table dir regardless of
        execution mode: applies live deletion vectors when the table
        carries them (merge-on-read), otherwise a plain schema-merging
        read.  The one reader a user can always call."""
        from .operators.mor import read_mor

        return read_mor(self.spark, path)

    def materialize_deletes(self, path: str, min_dead_ratio: float = 0.0):
        """Fold merge-on-read deletion vectors into real file rewrites —
        the MOR compaction (operators.mor.materialize_deletes); with
        ``min_dead_ratio`` only files past the dead-fraction threshold
        graduate.  On a versioned table this commits a version."""
        from .operators.mor import materialize_deletes

        return materialize_deletes(
            self.spark, path, min_dead_ratio=min_dead_ratio
        )

    def restore_version(self, path: str, version: int):
        """``RESTORE TABLE ... TO VERSION AS OF n``: roll the live file
        set back to version ``n`` as a new commit — metadata-only renames,
        full history preserved (operators.versioning.restore_version)."""
        from .operators.versioning import restore_version

        return restore_version(self.spark, path, version)

    def table_cost(self, path: str):
        """Storage-layer cost of a DML table dir: live vs tombstoned
        rows, deletion-vector batches, version count, and the
        maintenance hint those numbers justify (plans.cost.
        table_storage_report; metadata-only)."""
        from .plans.cost import table_storage_report

        return table_storage_report(self.spark, path)

    def begin(self, path: str):
        """Open a multi-statement transaction on a versioned table: every
        DML verb (including :meth:`dml` statements) until ``commit()``
        lands as ONE version whose CDC is the composed diff; ``rollback()``
        restores the table byte-identical (operators.txn.Transaction).
        Usable as a context manager — commit on clean exit, rollback on
        exception."""
        from .operators.txn import begin

        return begin(self.spark, path)

    def begin_multi(self, paths: list[str]):
        """Open ONE transaction spanning several versioned tables —
        commit() decides atomically for the whole set via the two-phase
        manifest commit (operators.txn.MultiTableTransaction); rollback
        restores every member.  Context-manager semantics match
        :meth:`begin`."""
        from .operators.txn import begin_multi

        return begin_multi(self.spark, paths)

    def recover_table(self, path: str, force: bool = False) -> int:
        """Crash recovery: roll an abandoned transaction back to the last
        committed manifest and clear the stale writer lock
        (operators.txn.recover_table; requires ``force=True`` while the
        lock file exists)."""
        from .operators.txn import recover_table

        return recover_table(self.spark, path, force=force)

    def recover_tables(
        self,
        paths: list[str],
        force: bool = False,
        assume_undecided: bool = False,
    ) -> int:
        """Crash recovery for multi-table transactions: decided commits
        (marker present) roll FORWARD, undecided ones roll back
        (operators.txn.recover_tables)."""
        from .operators.txn import recover_tables

        return recover_tables(
            self.spark, paths, force=force,
            assume_undecided=assume_undecided,
        )

    def read_changes(
        self,
        path: str,
        from_version: int,
        to_version: int | None = None,
        align_schema: bool = False,
        max_touched_files: int | None = 100_000,
    ) -> DataFrame:
        """CDC: net row changes between two committed versions, tagged
        ``_change_type`` ('insert'/'delete'); reads only the files the
        range touched (operators.versioning.read_changes).  ``align_schema``
        pins the output to the ``to`` version's full schema;
        ``max_touched_files`` bounds the DV entry-diff's driver-side file
        list (past it, the plan scans every common file instead)."""
        from .operators.versioning import read_changes

        return read_changes(
            self.spark, path, from_version, to_version,
            align_schema=align_schema,
            max_touched_files=max_touched_files,
        )

    # -- CHECK constraints (enforced by the mutate verbs at stage time) ----
    def add_constraint(
        self, path: str, name: str, expr: str, validate: bool = True
    ) -> None:
        from .operators.constraints import add_constraint

        add_constraint(self.spark, path, name, expr, validate)

    def drop_constraint(self, path: str, name: str) -> None:
        from .operators.constraints import drop_constraint

        drop_constraint(self.spark, path, name)

    def table_constraints(self, path: str) -> dict[str, str]:
        from .operators.constraints import table_constraints

        return table_constraints(self.spark, path)

    def sql_at(self, text: str, tables: dict[str, str]) -> DataFrame:
        """SELECT with time travel: every ``<name> VERSION AS OF <n>``
        and ``<name> TIMESTAMP AS OF '<iso>'`` occurrence (outside string
        literals) where ``name`` is in ``tables`` is rebound to that
        version of the COW table dir via the version log (by number, or
        by wall clock through the manifests' commit stamps).  Names
        WITHOUT a clause resolve through the session catalog as usual —
        so one statement can join a pinned version against any registered
        view, and the rewrite can never shadow (or drop) a same-named
        fixture view.  Mirrors :meth:`dml`'s explicit name→path mapping —
        version-logged tables are directories, not the engine's read-only
        fixture views.  The rewritten text runs through the ordinary
        :meth:`sql` gate, so explain/trace apply.
        """
        import re

        from .operators.dml_sql import _segments
        from .operators.versioning import read_as_of, read_version

        pat = re.compile(
            r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)", re.IGNORECASE
        )
        # the timestamp literal is a QUOTED segment, so this tail pattern
        # matches the non-quoted piece ending right before it
        ts_tail = re.compile(
            r"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s*$", re.IGNORECASE
        )
        views: list[str] = []

        def _check_mapped(name: str, clause: str) -> str:
            if name not in tables:
                raise ValueError(
                    f"{clause} on {name!r}, which is not in the "
                    f"tables mapping (have: {sorted(tables)})"
                )
            return tables[name]

        def _rebind(m: "re.Match[str]") -> str:
            name, ver = m.group(1), int(m.group(2))
            path = _check_mapped(name, "VERSION AS OF")
            view = f"__tt_{name}_v{ver}"
            read_version(self.spark, path, ver).createOrReplaceTempView(view)
            views.append(view)
            return view

        # the whole rewrite runs inside the cleanup scope: a second
        # clause that fails (bad version, unmapped name) must not leave
        # the FIRST clause's __tt_* view behind in the session catalog
        try:
            segs = list(_segments(text))
            pieces: list[str] = []
            i = 0
            while i < len(segs):
                seg, quoted = segs[i]
                if quoted:
                    pieces.append(seg)
                    i += 1
                    continue
                seg = pat.sub(_rebind, seg)
                m = ts_tail.search(seg)
                if m and i + 1 < len(segs) and segs[i + 1][1]:
                    name = m.group(1)
                    path = _check_mapped(name, "TIMESTAMP AS OF")
                    stamp = segs[i + 1][0][1:-1]  # shed the quotes
                    view = f"__tt_{name}_ts{len(views)}"
                    read_as_of(
                        self.spark, path, stamp
                    ).createOrReplaceTempView(view)
                    views.append(view)
                    pieces.append(seg[: m.start()] + view)
                    i += 2
                    continue
                pieces.append(seg)
                i += 1
            rewritten = "".join(pieces)
            if not views:
                raise ValueError(
                    "sql_at found no '<table> VERSION AS OF <n>' or "
                    "'<table> TIMESTAMP AS OF <ts>' clause — use sql() "
                    "for ordinary reads"
                )
            # spark.sql analyzes eagerly, so the returned frame keeps its
            # resolved plan after the views drop
            return self.sql(rewritten)
        finally:
            # the __tt_* views are statement-scoped plumbing, not catalog
            # surface — never leave them behind, success or failure
            for v in views:
                self.spark.catalog.dropTempView(v)

    # -- explain (entry point B, SURVEY §3.2 — ours doesn't also execute) --
    def explain(self, text: str) -> str:
        return explain_full(self.sql(text))

    def transform_log(self, text: str) -> TransformLog:
        return build_transform_log(self.sql(text))

    def cost(self, text: str) -> CostReport:
        return cost_report(self.sql(text))

    def join_order_advice(self, text: str, seed: int = 42) -> "JoinOrderAdvice":
        """Genetic join-order recommendation for a SELECT — the working
        version of the reference's ``GeneticOptimizer::optimize(SelectQuery)``
        (genetic_optimizer.h:14; skeleton-only and disabled there).

        Advisory: Catalyst CBO+AQE still plan execution; this reports the
        best left-deep order the GA finds over the query's own join graph
        (leaves + equi-edges pulled from the analyzed plan, cardinalities
        from Catalyst stats) next to the as-written order's cost.
        Subquery-less SELECTs only — see plans.genetic.graph_from_plan.
        """
        from .plans.genetic import (
            chain_cost,
            genetic_join_order,
            graph_from_plan,
        )

        df = self.sql(text)
        graph, as_written = graph_from_plan(df)
        # seeding the population with the as-written order guarantees the
        # advised order never loses under the GA's OWN fitness (fewest
        # cross joins first, then cost) — on graphs where avoiding a
        # cartesian step is worth more than its raw-cost penalty, the
        # reported scalar cost CAN exceed the as-written cost, by design
        order, cost = genetic_join_order(graph, seed=seed, seeds=[as_written])
        return JoinOrderAdvice(
            order=order,
            cost=cost,
            as_written=as_written,
            as_written_cost=chain_cost(as_written, graph),
            table_rows=dict(graph.rows),
        )

    # -- statistics (S4 harvest + readback) --------------------------------
    def analyze(self, names: tuple[str, ...] | None = None) -> None:
        if not self.sf_dir:
            raise ValueError("Engine built without sf_dir; nothing to analyze")
        catalog.analyze_tables(self.spark, self.sf_dir, names)

    def table_stats(self, name: str) -> dict[str, str]:
        return catalog.table_stats(self.spark, f"stats_{name}")
