"""Interactive REPL — the twin of the reference's CLI entry points.

Reference parity: the reference ships two interactive loops — the engine
CLI (``engine/src/cli.cpp:63-201``: read line → lex/parse → semantic check
→ optimize → print plan summary + optimized SQL → execute via MySQL) and
the standalone optimizer REPL (``sqlopt.cpp:727``: same front half, prints
the plan, never executes).  This REPL covers both through the
:class:`~.engine.Engine` facade, so every verb plans the text through the
SAME ``Engine.sql`` path the programmatic API uses:

=================  ==========================================================
input              behavior
=================  ==========================================================
``SELECT ...``     execute via Catalyst, print up to ``max_rows`` rows
``EXPLAIN q``      print the plan tree (deliberate difference from the
                   reference, which strips the prefix and STILL executes —
                   cli.cpp:196-201; SURVEY §3.2 calls this out)
``OPTIMIZE q``     entry point C analog: transform log + plan tree,
                   nothing executes (``sqlopt.cpp`` behavior)
``TRACE q``        the optimizer rules that changed the plan, with their
                   Catalyst tracker times
``COST q``         cost report over the optimized plan
``ADVISE q``       genetic join-order recommendation (R6 / GA)
``ANALYZE``        harvest table statistics (S4)
``ATTACH n path``  map table name → parquet dir for DML (the reference's
                   catalog is its live MySQL connection; fixtures here are
                   read-only, so DML targets are attached explicitly)
``UPDATE/DELETE/   execute against attached tables (the reference parses
MERGE ...``        these and stops); ``SET MODE cow|occ|mor`` picks the
                   execution protocol — copy-on-write (default),
                   optimistic multi-writer, or merge-on-read deletion
                   vectors
``VERSIONS n``     enable/inspect the attached table's version log
                   (commit timestamps of the newest 10 shown)
``VACUUM n         retention: drop all but the newest KEEP version
[KEEP k]``         manifests, then reclaim unreferenced retired files
``RESTORE n v``    roll the table back to version v as a NEW commit
                   (metadata-only renames; history preserved)
``INDEX n          per-file bloom index: BUILD <col> (auto-sized from an
BUILD|REFRESH|     approx-distinct probe), REFRESH <col> (index only the
LOOKUP|STATS``     files DML rewrote), LOOKUP <col> <v> (reads only
                   admitted files), STATS <col>

``CHANGES n a b``  CDC: net row changes between two committed versions
``CONSTRAINT n     CHECK constraints (ADD/DROP/LIST) enforced over every
ADD|DROP|LIST``    value-changing mutation's staged output
``COMPACT n        bin-pack small files; with ZORDER/SORT, recluster the
[ZORDER cols]``    layout (OPTIMIZE ZORDER BY)
``MATERIALIZE n    fold merge-on-read deletion vectors into file rewrites
[ratio]``          (MOR compaction; ratio = min dead fraction per file)
``ALTER TABLE``    textual constraint DDL through the DML front-end
``.. VERSION AS    time travel inside a SELECT on attached tables, by
OF n ..``          version number or ``TIMESTAMP AS OF '<iso>'``
``BEGIN n`` /      multi-statement transaction on an attached table:
``COMMIT`` /       every DML verb until COMMIT lands as ONE version
``ROLLBACK``       (CDC = the composed diff); ROLLBACK restores the
                   table byte-identical (operators/txn.py)
``RECOVER n``      crash recovery: roll an ABANDONED transaction back
                   and clear its stale writer lock
``REPAIR n         inventory (and with REMOVE, clean) post-crash COW
[REMOVE]``         staging debris + stale writer lock
``TABLES``         list queryable views + attached DML tables
``HELP``           this summary; ``EXIT`` / ``QUIT`` / ``\\q`` leaves
=================  ==========================================================

Every handler returns the text it would print (``handle()``), which is
what the tests assert on; ``main()`` is the thin stdin loop around it.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from .engine import Engine

_HELP = """commands:
  SELECT/WITH ...       execute and print rows
  EXPLAIN <query>       plan tree (does not execute)
  OPTIMIZE <query>      rewrites + transform log + plan (does not execute)
  TRACE <query>         rule-by-rule transform log
  COST <query>          cost report (COST <attached table>: storage-layer
                        report — dead-row fraction, materialize hint)
  ADVISE <query>        genetic join-order recommendation
  ANALYZE               harvest table statistics
  ATTACH <name> <path>  map a table name to a parquet dir for DML
  UPDATE/DELETE/MERGE   execute DML on attached tables (mode below)
  SET MODE cow|occ|mor  DML mode: copy-on-write (default) / optimistic
                        multi-writer / merge-on-read deletion vectors
  ALTER TABLE <t> ADD CONSTRAINT <c> CHECK (<expr>) | DROP CONSTRAINT <c>
  VERSIONS <name>       enable/inspect the version log (MVCC for readers)
  VACUUM <name> [KEEP <n>]  drop old version manifests, reclaim retired files
  RESTORE <name> <version>  roll the table back to a version (new commit)
  INDEX <name> BUILD <col> | REFRESH <col> | LOOKUP <col> <v>
              | STATS <col> | DROP <col> | LIST
                        per-file bloom index: build (auto-sized), index
                        just the files DML rewrote, probe-and-read a
                        point lookup, show sidecar stats, drop, or list
  IVF|IVFPQ <name> BUILD [<col>] | MAINTAIN [<col>]
            | SEARCH <k> [probes] [<col>] | STATS [<col>]
                        ANN serving index (col defaults: embedding): IVF =
                        k-means codebook + cell-partitioned posting lists;
                        IVFPQ = coarse cells + product-quantization
                        codebooks, postings hold 16x-compressed CODES only.
                        MAINTAIN (alias REFRESH) appends new files' vectors
                        and removes tombstoned ones by row identity; SEARCH
                        reads only the query's nearest cells
  CHANGES <name> <from> [<to>]  CDC: net row changes between two versions
  CONSTRAINT <name> ADD <cname> <expr> | DROP <cname> | LIST
                        CHECK constraints enforced by UPDATE/MERGE staging
  COMPACT <name> [ZORDER c1,c2 | SORT c1,c2]
                        bin-pack small files; recluster with ZORDER/SORT
  MATERIALIZE <name> [ratio]
                        fold deletion vectors into file rewrites (MOR
                        compaction; ratio = min dead fraction per file)
  ... <name> VERSION AS OF <n> | TIMESTAMP AS OF '<iso>' ...
                        time-travel any attached table inside a SELECT
  BEGIN <name>[, <name>...]  open a transaction: DML until COMMIT lands
                        as ONE version per table (CDC = the net diff);
                        several names = ONE atomic cross-table commit;
                        ROLLBACK restores every table byte-identical
  COMMIT | ROLLBACK     resolve the open transaction
  RECOVER <name>[, <name>...] [FORCE] [UNDECIDED]
                        roll a CRASHED transaction to its committed
                        state (decided multi-table commits roll FORWARD;
                        FORCE clears a dead writer's lock)
  REPAIR <name> [REMOVE]  inventory / clean post-crash COW debris
  TABLES                list tables
  HELP                  this help;  EXIT | QUIT | \\q  to leave"""


def _fmt_rows(df, max_rows: int) -> str:
    """Rows as an aligned text table (collect bounded by ``max_rows`` —
    a REPL must never pull an unbounded result to the driver)."""
    rows = df.limit(max_rows + 1).collect()
    truncated = len(rows) > max_rows
    rows = rows[:max_rows]
    cols = df.columns
    cells = [[str(c) for c in cols]] + [
        ["NULL" if v is None else str(v) for v in r] for r in rows
    ]
    widths = [max(len(line[i]) for line in cells) for i in range(len(cols))]
    out = [
        " | ".join(c.ljust(w) for c, w in zip(line, widths)) for line in cells
    ]
    out.insert(1, "-+-".join("-" * w for w in widths))
    out.append(
        f"({len(rows)} row{'s' if len(rows) != 1 else ''}"
        + (f", first {max_rows} shown" if truncated else "")
        + ")"
    )
    return "\n".join(out)


def _refresh_views(engine: Engine, dml_tables: dict[str, str]) -> None:
    """Re-register every attached view: a view pins the file list and DV
    batches it saw at creation, so after a rewrite, a restore, a vacuum,
    or a new tombstone batch a bare SELECT would read a stale (or, on a
    MOR table, WRONG — deleted rows visible) snapshot.  Per-table
    best-effort: one unreadable table must not mask a committed mutation
    or leave the OTHER tables' views stale."""
    import contextlib

    from .operators.mor import read_mor

    for n, p in dml_tables.items():
        with contextlib.suppress(Exception):
            read_mor(engine.spark, p).createOrReplaceTempView(n)


def handle(
    engine: Engine,
    line: str,
    dml_tables: dict[str, str],
    max_rows: int = 20,
    settings: dict | None = None,
) -> str | None:
    """Dispatch one REPL line; returns the output text, or ``None`` for
    EXIT.  Mirrors the reference CLI's first-keyword dispatch
    (``engine/src/parser.cpp:10-33``).  ``settings`` carries session
    state the loop owns (currently the DML mode: cow | occ | mor)."""
    settings = settings if settings is not None else {}
    text = line.strip().rstrip(";").strip()
    if not text:
        return ""
    head, _, rest = text.partition(" ")
    verb = head.upper()
    if verb in ("EXIT", "QUIT", "\\Q"):
        return None
    if verb == "HELP":
        return _HELP
    if verb == "TABLES":
        views = sorted(
            t.name for t in engine.spark.catalog.listTables() if t.isTemporary
        )
        lines = [f"  {v}" for v in views] or ["  (none)"]
        if dml_tables:
            lines.append("attached for DML:")
            lines.extend(f"  {n} -> {p}" for n, p in sorted(dml_tables.items()))
        return "\n".join(["views:"] + lines)
    try:
        if verb == "ATTACH":
            parts = rest.split()
            if len(parts) != 2:
                return "usage: ATTACH <name> <parquet-dir>"
            name, path = parts
            # validate the path BEFORE recording the mapping: a failed
            # attach must not leave a bogus DML target behind.  read_mor
            # is the universally correct view: it applies deletion
            # vectors when the table carries them and is a plain
            # schema-merging read otherwise.
            from .operators.mor import read_mor

            read_mor(engine.spark, path).createOrReplaceTempView(name)
            dml_tables[name] = path
            return f"attached {name} -> {path}"
        if verb == "ANALYZE":
            engine.analyze()
            return "statistics harvested"
        if verb == "VERSIONS":
            name = rest.strip()
            if name not in dml_tables:
                return (
                    f"usage: VERSIONS <attached table>  "
                    f"(ATTACH {name or '<name>'} first)"
                )
            path = dml_tables[name]
            vs = engine.table_versions(path)
            if not vs:
                v = engine.enable_versioning(path)
                return f"versioning enabled on {name}: at v{v}"
            hist = engine.version_history(path, last=10)
            tail = "\n".join(
                f"  v{v} committed {ts or '<unstamped>'}"
                for v, ts in hist
            )
            return (
                f"{name}: versions {vs[0]}..{vs[-1]} "
                f"({len(vs)} committed; newest 10 below)\n{tail}"
            )
        if verb == "CHANGES":
            parts = rest.split()
            if (
                len(parts) not in (2, 3)
                or parts[0] not in dml_tables
                or not all(p.isdigit() for p in parts[1:])
            ):
                return (
                    "usage: CHANGES <attached table> <from_version> "
                    "[<to_version>]"
                )
            to_v = int(parts[2]) if len(parts) == 3 else None
            ch = engine.read_changes(dml_tables[parts[0]], int(parts[1]), to_v)
            return _fmt_rows(ch.orderBy("_change_type", *ch.columns[1:2]), max_rows)
        if verb == "RESTORE":
            parts = rest.split()
            usage = "usage: RESTORE <attached table> <version>"
            if (
                len(parts) != 2
                or parts[0] not in dml_tables
                or not parts[1].isdigit()
            ):
                return usage
            st = engine.restore_version(dml_tables[parts[0]], int(parts[1]))
            vs = engine.table_versions(dml_tables[parts[0]])
            if not st.files_rewritten:
                return f"{parts[0]} already at version {parts[1]}; no-op"
            _refresh_views(engine, dml_tables)
            return (
                f"restored {parts[0]} to v{parts[1]} as new v{vs[-1]} "
                f"({st.files_rewritten} files changed liveness)"
            )
        if verb == "VACUUM":
            from .operators.versioning import drop_versions_before, vacuum

            parts = rest.split()
            usage = "usage: VACUUM <attached table> [KEEP <n versions>]"
            if (
                not parts
                or parts[0] not in dml_tables
                or (len(parts) == 3 and parts[1].upper() != "KEEP")
                or len(parts) not in (1, 3)
            ):
                return usage
            path = dml_tables[parts[0]]
            dropped = 0
            if len(parts) == 3:
                if not parts[2].isdigit() or int(parts[2]) < 1:
                    return usage
                dropped = drop_versions_before(
                    engine.spark, path, keep_last=int(parts[2])
                )
            n = vacuum(engine.spark, path)
            _refresh_views(engine, dml_tables)
            return (
                f"dropped {dropped} old version manifest(s); "
                f"reclaimed {n} unreferenced retired file(s)"
            )
        if verb == "INDEX":
            from .operators.fileindex import (
                build_bloom_index,
                drop_bloom_index,
                has_bloom_index,
                index_stats,
                list_bloom_indexes,
                read_point_lookup,
                refresh_bloom_index,
            )

            parts = rest.split()
            usage = (
                "usage: INDEX <attached table> BUILD <col> | "
                "REFRESH <col> | LOOKUP <col> <value> | STATS <col> | "
                "DROP <col> | LIST"
            )
            if (
                len(parts) == 2
                and parts[0] in dml_tables
                and parts[1].upper() == "LIST"
            ):
                cols = list_bloom_indexes(engine.spark, dml_tables[parts[0]])
                return (
                    "bloom indexes: " + ", ".join(cols) if cols
                    else "(no bloom indexes)"
                )
            if (
                len(parts) < 3
                or parts[0] not in dml_tables
                or parts[1].upper()
                not in ("BUILD", "REFRESH", "LOOKUP", "STATS", "DROP")
            ):
                return usage
            path, action, col = dml_tables[parts[0]], parts[1].upper(), parts[2]
            if action == "BUILD":
                n = build_bloom_index(engine.spark, path, col, num_bits=None)
                if not n:
                    return f"{parts[0]} has no data files to index"
                st = index_stats(engine.spark, path, col)
                return (
                    f"bloom index on {parts[0]}.{col}: {n} files, "
                    f"{st['num_bits']} bits/file, "
                    f"{st['sidecar_bytes']} sidecar bytes"
                )
            if action == "DROP":
                return (
                    f"dropped bloom index on {parts[0]}.{col}"
                    if drop_bloom_index(engine.spark, path, col)
                    else f"no bloom index on {parts[0]}.{col}"
                )
            if not has_bloom_index(engine.spark, path, col):
                return f"no bloom index on {parts[0]}.{col}; INDEX {parts[0]} BUILD {col} first"
            if action == "REFRESH":
                n = refresh_bloom_index(engine.spark, path, col)
                return (
                    f"indexed {n} new file(s) on {parts[0]}.{col}"
                    if n
                    else f"index on {parts[0]}.{col} already covers every live file"
                )
            if action == "STATS":
                return "\n".join(
                    f"  {k} = {v}"
                    for k, v in sorted(
                        index_stats(engine.spark, path, col).items()
                    )
                )
            if len(parts) != 4:
                return usage
            # validate the literal BEFORE probing: under ANSI mode a
            # non-parsing value raises a raw CAST_INVALID_INPUT blob;
            # try_cast turns it into a friendly usage message
            ctype = index_stats(engine.spark, path, col)["col_type"]
            parsed = engine.spark.sql(
                "SELECT try_cast(? AS " + ctype + ") AS v",
                args=[parts[3]],
            ).first()["v"]
            if parsed is None:
                return (
                    f"value {parts[3]!r} does not parse as the indexed "
                    f"column's type ({ctype})"
                )
            return _fmt_rows(
                read_point_lookup(engine.spark, path, col, parsed),
                max_rows,
            )
        if verb in ("IVF", "IVFPQ"):
            from .operators import pq, similarity

            side, build, search, maintain, built = (
                (
                    similarity._IVF,
                    similarity.build_ivf_index,
                    similarity.ivf_search_indexed,
                    similarity.maintain_ivf_index,
                    "trained codebook ({} trained cell(s)) + posting lists",
                )
                if verb == "IVF"
                else (
                    pq._IVFPQ,
                    pq.build_ivfpq_index,
                    pq.ivfpq_search_indexed,
                    pq.maintain_ivfpq_index,
                    "coarse codebook ({} trained cell(s)) + PQ codebooks + "
                    "codes-only posting lists",
                )
            )
            parts = rest.split()
            usage = (
                f"usage: {verb} <attached table> BUILD [<col>] | "
                "MAINTAIN [<col>] | SEARCH <k> [probes] [<col>] | "
                "STATS [<col>]"
            )
            if len(parts) < 2 or parts[0] not in dml_tables:
                return usage
            name, action = parts[0], parts[1].upper()
            path, args = dml_tables[name], parts[2:]
            if action == "SEARCH":
                if not args or not args[0].isdigit():
                    return usage
                kw = {"k": int(args[0])}
                if len(args) > 1 and args[1].isdigit():
                    kw["n_probes"] = int(args[1])
                if not args[-1].isdigit():
                    kw["emb_col"] = args[-1]
                return _fmt_rows(search(engine.spark, path, **kw), max_rows)
            col = args[0] if args else "embedding"
            what = f"{side.kind} index on {name}.{col}"
            if action == "BUILD":
                n = build(engine.spark, path, emb_col=col)
                return f"{what}: {built.format(n)}"
            # REFRESH is the older name of MAINTAIN
            if action in ("MAINTAIN", "REFRESH"):
                st = maintain(engine.spark, path, emb_col=col)
                if not any(st.values()):
                    return (
                        f"{what} already covers every live file and "
                        "tombstone"
                    )
                return (
                    f"{what}: appended {st['appended']}, removed "
                    f"{st['removed']} vector(s) ({st['cells_rewritten']} "
                    "cell partition(s) rewritten; codebooks untouched)"
                )
            if action != "STATS":
                return usage
            postings = side.postings(engine.spark, path, col)
            if postings is None:
                return (
                    f"no {side.kind} index on {name}.{col}; "
                    f"{verb} {name} BUILD {col} first"
                )
            book = side.codebooks(engine.spark, path, col)[0]
            try:
                _, added, removed = side.drift(engine.spark, path, col)
            except ValueError:
                # crash debris (failed anchor write): say so — a silent
                # "looks fine" here hides real staleness
                stale = (
                    "  [NO staleness anchor — crashed build? "
                    f"{verb} {name} BUILD {col}]"
                )
            else:
                stale = (
                    "  [STALE — the table changed since build; "
                    f"{verb} {name} MAINTAIN {col} (or BUILD)]"
                    if added or removed
                    else ""
                )
            return (
                f"{what}: {book.select('cell').distinct().count()} trained "
                f"cell(s), {postings.count()} indexed vector(s){stale}"
            )
        if verb == "COMPACT":
            from .operators.mutate import compact

            usage = "usage: COMPACT <attached table> [ZORDER c1,c2 | SORT c1,c2]"
            parts = rest.split(None, 2)
            if not parts or parts[0] not in dml_tables:
                return usage
            kw = {}
            if len(parts) == 3 and parts[1].upper() in ("ZORDER", "SORT"):
                cols = [c.strip() for c in parts[2].split(",") if c.strip()]
                if not cols:
                    return usage
                kw["zorder" if parts[1].upper() == "ZORDER" else "sort_by"] = cols
            elif len(parts) != 1:
                return usage
            st = compact(engine.spark, dml_tables[parts[0]], **kw)
            if st.files_rewritten:
                _refresh_views(engine, dml_tables)
            return st.render()
        if verb == "MATERIALIZE":
            usage = "usage: MATERIALIZE <attached table> [min_dead_ratio]"
            parts = rest.split()
            if not parts or parts[0] not in dml_tables:
                return usage
            ratio = 0.0
            if len(parts) == 2:
                try:
                    ratio = float(parts[1])
                except ValueError:
                    return usage
                if not (0.0 <= ratio <= 1.0):  # also rejects nan
                    return usage
            elif len(parts) != 1:
                return usage
            st = engine.materialize_deletes(
                dml_tables[parts[0]], min_dead_ratio=ratio
            )
            # refresh unconditionally: even a zero-rewrite run can drop a
            # stale _dv store (crash-rerun convergence), and views pin
            # the DV file list in their plans
            _refresh_views(engine, dml_tables)
            return st.render()
        if verb == "CONSTRAINT":
            usage = (
                "usage: CONSTRAINT <attached table> "
                "ADD <name> <expr> | DROP <name> | LIST"
            )
            parts = rest.split(None, 2)
            if len(parts) < 2 or parts[0] not in dml_tables:
                return usage
            tpath, action = dml_tables[parts[0]], parts[1].upper()
            if action == "LIST":
                cons = engine.table_constraints(tpath)
                if not cons:
                    return "(no constraints)"
                return "\n".join(
                    f"  {n} CHECK ({e})" for n, e in sorted(cons.items())
                )
            if action == "ADD" and len(parts) == 3:
                cname, _, cexpr = parts[2].partition(" ")
                if not cexpr.strip():
                    return usage
                engine.add_constraint(tpath, cname, cexpr.strip())
                return f"constraint {cname} added on {parts[0]}"
            if action == "DROP" and len(parts) == 3:
                engine.drop_constraint(tpath, parts[2].strip())
                return f"constraint {parts[2].strip()} dropped"
            return usage
        if verb == "BEGIN":
            from .operators.txn import begin, begin_multi

            names = [n for n in rest.replace(",", " ").split() if n]
            unknown = [n for n in names if n not in dml_tables]
            if not names or unknown:
                bad = unknown[0] if unknown else "<name>"
                return (
                    f"usage: BEGIN <attached table>[, <table>...]  "
                    f"(ATTACH {bad} first)"
                )
            if "txn" in settings:
                return (
                    f"a transaction is already open on "
                    f"{settings['txn'][0]} — COMMIT or ROLLBACK first"
                )
            enabled: list[str] = []
            for n in names:
                if not engine.table_versions(dml_tables[n]):
                    # transactions need the version log; surface the
                    # side effect (a v1 manifest pinning the current
                    # file set) instead of committing it silently
                    engine.enable_versioning(dml_tables[n])
                    enabled.append(n)
            note = (
                f" (versioning enabled on {', '.join(enabled)}: "
                "v1 manifest committed)"
                if enabled
                else ""
            )
            disp = ",".join(names)
            if len(names) == 1:
                settings["txn"] = (
                    disp, begin(engine.spark, dml_tables[names[0]])
                )
                return (
                    f"transaction open on {disp}{note}: DML batches "
                    "into ONE version at COMMIT; ROLLBACK restores the "
                    "table"
                )
            settings["txn"] = (
                disp,
                begin_multi(
                    engine.spark, [dml_tables[n] for n in names]
                ),
            )
            return (
                f"cross-table transaction open on {disp}{note}: one "
                "atomic commit across all tables at COMMIT; ROLLBACK "
                "restores every table"
            )
        if verb == "COMMIT":
            if "txn" not in settings:
                return "no open transaction (BEGIN <table> first)"
            name, txn = settings["txn"]
            verbs = txn.verbs_executed
            try:
                v = txn.commit()
            finally:
                # commit() reopens the handle on failure (lock kept,
                # batch still protected) — drop our reference only once
                # the txn is truly resolved, or a failed COMMIT would
                # strand the table wedged behind "no open transaction"
                if not txn.active:
                    settings.pop("txn", None)
            _refresh_views(engine, dml_tables)
            if isinstance(v, dict):  # multi-table: {path: version}
                if not v:
                    return (
                        f"transaction on {name}: nothing changed; "
                        "no commit"
                    )
                vers = ", ".join(
                    f"v{ver}" for _, ver in sorted(v.items())
                )
                return (
                    f"cross-table transaction on {name} committed "
                    f"atomically ({verbs} verbs; {len(v)} tables -> "
                    f"{vers})"
                )
            if v is None:
                return f"transaction on {name}: nothing changed; no commit"
            return (
                f"transaction on {name} committed as v{v} "
                f"({verbs} verbs, one version)"
            )
        if verb == "ROLLBACK":
            if "txn" not in settings:
                return "no open transaction (BEGIN <table> first)"
            name, txn = settings["txn"]
            try:
                changed = txn.rollback()
            finally:
                if not txn.active:
                    settings.pop("txn", None)
            _refresh_views(engine, dml_tables)
            return (
                f"transaction on {name} rolled back "
                f"({changed} files restored/reclaimed)"
            )
        if verb == "RECOVER":
            from .operators.txn import (
                RecoveryNeedsForce,
                UndecidedCommitDebris,
                recover_table,
                recover_tables,
            )

            parts = rest.split()
            mods: set[str] = set()
            while parts and parts[-1].upper() in ("FORCE", "UNDECIDED"):
                mods.add(parts.pop().upper())
            force = "FORCE" in mods
            undecided = "UNDECIDED" in mods
            names = [
                n for tok in parts for n in tok.split(",") if n
            ]
            unknown = [n for n in names if n not in dml_tables]
            if not names or unknown or (undecided and len(names) == 1):
                bad = unknown[0] if unknown else "<name>"
                return (
                    f"usage: RECOVER <attached table>[, <table>...] "
                    f"[FORCE] [UNDECIDED]  (ATTACH {bad} first; FORCE "
                    "deletes a live writer lock — confirm the holder "
                    "is dead; UNDECIDED, multi-table only, confirms a "
                    "crash provably before the decision marker)"
                )
            open_names = (
                set(settings["txn"][0].split(","))
                if settings.get("txn")
                else set()
            )
            if open_names & set(names):
                return (
                    "that transaction is still open in THIS session — "
                    "COMMIT or ROLLBACK it instead"
                )
            disp = ",".join(names)
            try:
                if len(names) == 1:
                    changed = recover_table(
                        engine.spark, dml_tables[names[0]], force=force
                    )
                else:
                    changed = recover_tables(
                        engine.spark,
                        [dml_tables[n] for n in names],
                        force=force,
                        assume_undecided=undecided,
                    )
            except RecoveryNeedsForce:
                # plain RECOVER never deletes a possibly-live writer's
                # lock: the FORCE token is the operator's confirmation
                return (
                    f"writer lock on {disp} still exists — confirm "
                    f"the holder is dead, then RECOVER {disp} FORCE"
                )
            except UndecidedCommitDebris:
                return (
                    f"a prepared multi-table manifest exists on {disp} "
                    "with no decision marker in this set — RECOVER the "
                    "transaction's FULL table set; if this IS the full "
                    "set (the crash happened before the decision), "
                    f"confirm with: RECOVER {disp}"
                    + (" FORCE" if force else "")
                    + " UNDECIDED"
                )
            _refresh_views(engine, dml_tables)
            return (
                f"recovered {disp}: rolled to the committed state "
                f"({changed} files restored/reclaimed)"
                + (", stale writer lock cleared" if force else "")
            )
        if verb == "REPAIR":
            from .operators.mutate import repair_table

            parts = rest.split()
            if not parts or parts[0] not in dml_tables:
                return "usage: REPAIR <attached table> [REMOVE]"
            remove = len(parts) > 1 and parts[1].upper() == "REMOVE"
            return repair_table(
                engine.spark, dml_tables[parts[0]], remove=remove
            ).render()
        if verb == "EXPLAIN":
            return engine.explain(rest)
        if verb == "OPTIMIZE":
            return engine.optimize(rest).render()
        if verb == "TRACE":
            return engine.transform_log(rest).render()
        if verb == "COST":
            # COST <attached table> prices the TABLE (storage layer:
            # dead-row fraction, DV batches, materialize hint); COST
            # <query> prices the plan, as ever
            if rest.strip() in dml_tables:
                return engine.table_cost(dml_tables[rest.strip()]).render()
            return engine.cost(rest).render()
        if verb == "ADVISE":
            return engine.join_order_advice(rest).render()
        if verb == "SET" and rest.split()[:1] and rest.split()[0].upper() == "MODE":
            parts = rest.split()
            usage = "usage: SET MODE cow | occ | mor  (SET MODE shows current)"
            if len(parts) == 1:
                return f"mode = {settings.get('mode', 'cow')}"
            if len(parts) != 2 or parts[1].lower() not in ("cow", "occ", "mor"):
                return usage
            settings["mode"] = parts[1].lower()
            return (
                f"mode = {settings['mode']} "
                "(UPDATE/DELETE/MERGE now run "
                + {
                    "cow": "copy-on-write, single-writer",
                    "occ": "optimistically — concurrent writers retry on conflict",
                    "mor": "merge-on-read — deletion vectors, no rewrites",
                }[settings["mode"]]
                + ")"
            )
        # any other SET line (e.g. SET spark.sql.shuffle.partitions=4)
        # falls through to the bare-statement branch and executes as
        # Spark SQL — the pre-r8 passthrough behavior
        if verb in ("UPDATE", "DELETE", "MERGE", "ALTER"):
            mode = settings.get("mode", "cow")
            stats = engine.dml(
                text,
                dml_tables,
                optimistic=(mode == "occ"),
                mor=(mode == "mor"),
            )
            if stats.files_rewritten or stats.rows_matched or stats.rows_inserted:
                _refresh_views(engine, dml_tables)
            return stats.render()
        # bare query (SELECT / WITH / VALUES ...); `t VERSION AS OF n`
        # clauses on attached tables route through the time-travel gate
        import re as _re

        if dml_tables and _re.search(
            r"(VERSION|TIMESTAMP)\s+AS\s+OF", text, _re.I
        ):
            try:
                return _fmt_rows(engine.sql_at(text, dml_tables), max_rows)
            except ValueError as e:
                if "found no" not in str(e):
                    raise
                # the match was inside a string literal — ordinary query
        return _fmt_rows(engine.sql(text), max_rows)
    except Exception as e:  # REPL survives bad input; the reference's
        # loop does the same (cli.cpp prints the error and re-prompts)
        return f"error: {e}"


def main(argv: list[str] | None = None) -> None:
    """``python -m sql_query_optimizer_cpp_spark [sf_dir]`` — stdin loop."""
    args = argv if argv is not None else sys.argv[1:]
    sf_dir = args[0] if args else None
    from .session import get_session

    spark = get_session(app_name="repl")
    engine = Engine(spark, sf_dir=sf_dir)
    dml_tables: dict[str, str] = {}
    settings: dict = {}
    interactive = sys.stdin.isatty()
    if interactive:
        print("sql_query_optimizer_cpp_spark REPL — HELP for commands")
    while True:
        if interactive:
            print("sql> ", end="", flush=True)
        line = sys.stdin.readline()
        if not line:
            break
        out = handle(engine, line, dml_tables, settings=settings)
        if out is None:
            break
        if out:
            print(out, flush=True)
    if "txn" in settings:
        # leaving with an open transaction would strand the writer lock;
        # an unresolved batch rolls back (the SQL-session convention)
        name, txn = settings.pop("txn")
        txn.rollback()
        print(f"open transaction on {name} rolled back on exit", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
