"""4-component cost report in the reference's style, fed by Catalyst stats.

The reference models cost as ``CostComponents{io, cpu, memory, network}``
with constants SEQ_PAGE_COST=1.0, RAND_PAGE_COST=4.0, CPU_TUPLE_COST=0.01,
INDEX_LOOKUP_COST=2.0, SORT_COST_PER_TUPLE=0.1 and pages ~= rows/100
(``engine/include/cost_estimator.h:7-33``, per-operator formulas
``engine/src/cost_estimator.cpp:7-136``, page estimate
``engine/src/statistics_manager.cpp:46``).

Catalyst has its own (better) cost model; this module *presents* per-node
costs with the reference's formulas and constants so a reference user gets
the familiar report — it never influences planning (SURVEY.md §4.2:
presentation-only).  Network cost is populated for exchange nodes, which
the reference declared "for distributed" but never assigned.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# reference constants, engine/include/cost_estimator.h:29-33
SEQ_PAGE_COST = 1.0
RAND_PAGE_COST = 4.0
CPU_TUPLE_COST = 0.01
INDEX_LOOKUP_COST = 2.0
SORT_COST_PER_TUPLE = 0.1
ROWS_PER_PAGE = 100  # statistics_manager.cpp:46


def _to_int(v) -> int:
    """py4j converts scala.math.BigInt to Python int in most paths; fall
    back to toString for the cases it doesn't."""
    return v if isinstance(v, int) else int(v.toString())


@dataclass
class CostComponents:
    io: float = 0.0
    cpu: float = 0.0
    memory: float = 0.0
    network: float = 0.0

    @property
    def total(self) -> float:
        return self.io + self.cpu + self.memory + self.network


@dataclass
class NodeCost:
    operator: str
    rows: int
    cost: CostComponents


@dataclass
class CostReport:
    nodes: list[NodeCost] = field(default_factory=list)

    @property
    def total(self) -> CostComponents:
        agg = CostComponents()
        for n in self.nodes:
            agg.io += n.cost.io
            agg.cpu += n.cost.cpu
            agg.memory += n.cost.memory
            agg.network += n.cost.network
        return agg

    def render(self) -> str:
        lines = [
            f"{'operator':<28} {'rows':>12} {'io':>12} {'cpu':>12} "
            f"{'memory':>12} {'network':>12} {'total':>12}"
        ]
        for n in self.nodes:
            c = n.cost
            lines.append(
                f"{n.operator:<28} {n.rows:>12} {c.io:>12.2f} {c.cpu:>12.2f} "
                f"{c.memory:>12.2f} {c.network:>12.2f} {c.total:>12.2f}"
            )
        t = self.total
        lines.append(
            f"{'TOTAL':<28} {'':>12} {t.io:>12.2f} {t.cpu:>12.2f} "
            f"{t.memory:>12.2f} {t.network:>12.2f} {t.total:>12.2f}"
        )
        return "\n".join(lines)


def _node_cost(name: str, rows: int, child_rows: list[int]) -> CostComponents:
    """Apply the reference's per-operator formulas to Catalyst row counts."""
    pages = max(rows // ROWS_PER_PAGE, 1)
    c = CostComponents()
    lname = name.lower()
    if "relation" in lname or "scan" in lname:
        # table scan: engine/src/cost_estimator.cpp:7-24
        c.io = pages * SEQ_PAGE_COST
        c.cpu = rows * CPU_TUPLE_COST
    elif "join" in lname:
        # hash-join formula: engine/src/cost_estimator.cpp:57-61
        l = child_rows[0] if child_rows else rows
        r = child_rows[1] if len(child_rows) > 1 else rows
        c.cpu = (l + r) * CPU_TUPLE_COST * 2
        c.memory = 0.1 * max(l, r)
    elif "sort" in lname:
        # external sort: engine/src/cost_estimator.cpp:71-83
        c.cpu = rows * SORT_COST_PER_TUPLE
        c.io = pages * SEQ_PAGE_COST
    elif "aggregate" in lname:
        # aggregation: engine/src/cost_estimator.cpp:85-95
        inp = child_rows[0] if child_rows else rows
        c.cpu = inp * CPU_TUPLE_COST
        c.memory = 0.1 * rows
    elif "exchange" in lname or "shuffle" in lname:
        # the component the reference declared but never used — real here
        c.network = rows * CPU_TUPLE_COST
    elif "filter" in lname:
        inp = child_rows[0] if child_rows else rows
        c.cpu = inp * CPU_TUPLE_COST
    else:
        c.cpu = rows * CPU_TUPLE_COST
    return c


def _walk(jnode, out: list[NodeCost]) -> int:
    """Post-order walk returning this node's row estimate."""
    children = []
    it = jnode.children().iterator()
    while it.hasNext():
        children.append(_walk(it.next(), out))
    rows = 0
    try:
        stats = jnode.stats()
        rc = stats.rowCount()
        if rc.isDefined():
            rows = _to_int(rc.get())
        else:
            # fall back: size / 100 bytes per row, floor 1
            rows = max(_to_int(stats.sizeInBytes()) // 100, 1)
    except Exception:
        rows = children[0] if children else 1
    out.append(NodeCost(jnode.nodeName(), rows, _node_cost(jnode.nodeName(), rows, children)))
    return rows


def cost_report(df) -> CostReport:
    """Reference-style 4-component cost report over the optimized plan."""
    report = CostReport()
    _walk(df._jdf.queryExecution().optimizedPlan(), report.nodes)
    report.nodes.reverse()  # root first, like the reference's explain
    return report


@dataclass
class TableStorageReport:
    """Storage-layer cost of a DML table dir: live files/rows, deletion-
    vector dead rows, and the maintenance action those numbers justify.
    The query cost report prices the PLAN; this prices the TABLE — on a
    merge-on-read table every read pays a broadcast anti join sized by
    ``dead_rows``, and past a dead-fraction threshold folding the
    vectors in (``materialize_deletes``) is cheaper than carrying them.
    All metadata: one ``_dv`` listing + parquet footer counts."""

    path: str
    files: int
    rows: int  # live rows (tombstones excluded)
    base_rows: int  # physical rows in the data files
    dv_batches: int
    dead_rows: int
    versions: int
    top_dead_files: list[tuple[str, int]] = field(default_factory=list)

    @property
    def dead_fraction(self) -> float:
        return self.dead_rows / self.base_rows if self.base_rows else 0.0

    @property
    def hint(self) -> str:
        if self.dead_rows == 0:
            return ""
        frac = self.dead_fraction
        if frac >= 0.1:
            return (
                f"hint: {frac:.1%} of physical rows are tombstoned dead "
                "weight — every read scans and anti-joins them away; run "
                "materialize_deletes (REPL: MATERIALIZE) to fold the "
                "vectors into rewrites"
            )
        return (
            f"note: {self.dead_rows} tombstoned rows ({frac:.1%}) ride "
            "along on every read; materialize_deletes(min_dead_ratio=...) "
            "rewrites only the worst files when it grows"
        )

    def render(self) -> str:
        lines = [
            f"table {self.path}",
            f"  data files        {self.files:>12}",
            f"  physical rows     {self.base_rows:>12}",
            f"  live rows         {self.rows:>12}",
            f"  deletion vectors  {self.dv_batches:>12} batches, "
            f"{self.dead_rows} dead rows ({self.dead_fraction:.1%})",
            f"  committed versions{self.versions:>12}",
        ]
        if self.top_dead_files:
            lines.append("  most-tombstoned files:")
            lines.extend(
                f"    {n:>8} dead  {f}" for f, n in self.top_dead_files
            )
        if self.hint:
            lines.append(f"  {self.hint}")
        return "\n".join(lines)


def table_storage_report(spark, path: str, top_n: int = 5) -> TableStorageReport:
    """Build :class:`TableStorageReport` for a parquet DML table dir —
    metadata-only (footer counts, one DV-store listing, one manifest
    listing); never scans data values."""
    from pyspark.sql import functions as F

    from ..operators import reader
    from ..operators.mor import _read_dv_files, list_dv_files
    from ..operators.storage import _rel_to_table
    from ..operators.versioning import table_versions

    listing = reader.list_files(spark, path, recursive=True)
    files = [f.path for f in listing]
    base_rows = reader.row_count(spark, listing)
    dv_files = list_dv_files(spark, path)
    dead = 0
    top = []
    if dv_files:
        # count what the read path actually removes: DISTINCT entries on
        # LIVE files — a crashed materialize legally leaves duplicated
        # (at-least-once) or stale (replaced-file) tombstones behind,
        # which read_mor's anti join tolerates and this report must not
        # double-bill
        from ..functions import values_df

        live = values_df(
            spark,
            "src_file string",
            [(_rel_to_table(path, f),) for f in files],
        )
        entries = (
            _read_dv_files(spark, sorted(dv_files))
            .select("src_file", "row_idx")
            .distinct()
            .join(F.broadcast(live), "src_file", "left_semi")
        )
        # ONE job: the per-file rollup is bounded by the table's file
        # count (metadata scale), and both the top-N and the dead total
        # derive from it in Python — never recompute the entries lineage
        per_file = sorted(
            (
                (r["src_file"], r["dead_rows"])
                for r in entries.groupBy("src_file")
                .agg(F.count("*").cast("long").alias("dead_rows"))
                .collect()
            ),
            key=lambda t: (-t[1], t[0]),
        )
        top = per_file[:top_n]
        dead = sum(n for _, n in per_file)
    return TableStorageReport(
        path=path,
        files=len(files),
        rows=base_rows - dead,
        base_rows=base_rows,
        dv_batches=len(dv_files),
        dead_rows=dead,
        versions=len(table_versions(spark, path)),
        top_dead_files=top,
    )
