"""Textual DML front-end: parse UPDATE/DELETE/MERGE/ALTER text, dispatch
to the executing verbs (split from mutate.py, r12; same grammar)."""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from .mutate import MutationStats, delete_where, merge_into, update_where
from .constraints import add_constraint, drop_constraint
from .mor import dv_delete_where, dv_merge_into, dv_update_where, read_mor

# -- textual DML front-end ---------------------------------------------------
#
# The reference's DML grammar (engine/src/parser.cpp:232-296) is simple
# assignments + one WHERE; this front-end parses that same shape and then —
# unlike the reference — EXECUTES it through the COW verbs above.

# WHERE is OPTIONAL, matching the reference grammar
# (engine/src/parser.cpp parse_update/parse_delete): a full-table
# ``DELETE FROM t`` / ``UPDATE t SET ...`` executes with condition TRUE.
# The UPDATE regex captures everything after SET; the WHERE split happens
# quote-aware in _find_top_where (a literal containing ' WHERE ' must not
# split the statement).
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+(ADD|DROP)\s+CONSTRAINT\s+(\w+)"
    r"(?:\s+CHECK\s*\((.+)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _segments(text: str):
    """Yield ``(piece, is_string_literal)`` pieces of a SQL expression,
    splitting out single-quoted literals (with ``''`` as SQL's escaped
    quote AND ``\\'`` as Spark's backslash escape — Spark's default lexer
    un-escapes backslash sequences, so ``'it\\'s'`` is ONE literal to the
    engine that will evaluate these expressions and must be one literal
    here, or the boundary mis-lexes and comma/WHERE splitting operates on
    literal content).  Every structural scan below — comma splitting,
    WHERE detection, alias rewriting — walks these segments and leaves
    literal pieces untouched: an expression like ``SET note = 's.tag'``
    must keep its literal byte-for-byte, never have the alias pattern
    rewritten inside it (silent data corruption)."""
    i, n, start = 0, len(text), 0
    while i < n:
        if text[i] == "'":
            if i > start:
                yield text[start:i], False
            j = i + 1
            while j < n:
                if text[j] == "\\" and j + 1 < n:
                    # backslash escapes the next char (incl. \' and \\),
                    # matching Spark's default string-literal lexing
                    j += 2
                    continue
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {text!r}")
            yield text[i : j + 1], True
            start = i = j + 1
        else:
            i += 1
    if start < n:
        yield text[start:], False


def _split_depth0(text: str) -> list[str]:
    """Split on commas at paren-depth 0 outside string literals (commas
    inside function calls and inside ``'a,b'`` stay put)."""
    parts, depth, buf = [], 0, []
    for seg, quoted in _segments(text):
        if quoted:
            buf.append(seg)
            continue
        for ch in seg:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
    parts.append("".join(buf))
    return parts


def _split_values(text: str):
    """Split a VALUES list on depth-0 unquoted commas."""
    for p in _split_depth0(text):
        yield p.strip()


def _split_assignments(text: str) -> dict[str, str]:
    """Split ``a = f(x, y), b = 'lit,eral'`` into assignments — quote- and
    depth-aware; a naive ``split(',')`` would cut inside call argument
    lists or string literals."""
    out = {}
    for p in _split_depth0(text):
        col, eq, expr = p.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise ValueError(f"malformed SET assignment: {p.strip()!r}")
        out[col.strip()] = expr.strip()
    return out


def _find_top_where(text: str) -> int:
    """Index of the first WHERE keyword at paren-depth 0 outside string
    literals, or -1 — so ``SET note = 'x WHERE y'`` is not split there."""
    depth, pos = 0, 0
    for seg, quoted in _segments(text):
        if not quoted:
            for m in re.finditer(r"[()]|\bWHERE\b", seg, flags=re.IGNORECASE):
                tok = m.group()
                if tok == "(":
                    depth += 1
                elif tok == ")":
                    depth -= 1
                elif depth == 0:
                    return pos + m.start()
        pos += len(seg)
    return -1


_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)(?:\s+AS)?(?:\s+(\w+))?"
    r"\s+USING\s+(\w+)(?:\s+AS)?(?:\s+(\w+))?"
    r"\s+ON\s+(.+?)"
    r"((?:\s+WHEN\s+(?:NOT\s+)?MATCHED\b.*?THEN\s+(?:UPDATE\s+SET\s+.+?|DELETE|INSERT\b.*?))+)"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
def _find_top_keyword(text: str, kw: str) -> int:
    """Index of the first ``kw`` keyword outside string literals, parens,
    AND ``CASE ... END`` blocks, or -1.  The CASE tracking is what lets a
    clause condition like ``AND CASE WHEN x THEN true ELSE false END``
    keep its own THEN while the clause's THEN is still found."""
    depth = case_depth = pos = 0
    pat = re.compile(rf"[()]|\bCASE\b|\bEND\b|\b{kw}\b", re.IGNORECASE)
    for seg, quoted in _segments(text):
        if not quoted:
            for m in pat.finditer(seg):
                tok = m.group().upper()
                if tok == "(":
                    depth += 1
                elif tok == ")":
                    depth -= 1
                elif tok == "CASE":
                    case_depth += 1
                elif tok == "END":
                    case_depth = max(0, case_depth - 1)
                elif depth == 0 and case_depth == 0:
                    return pos + m.start()
        pos += len(seg)
    return -1


_WHEN_HEAD_RE = re.compile(r"\bWHEN\s+(NOT\s+)?MATCHED\b", re.IGNORECASE)


def _split_when_clauses(text: str) -> list[tuple[bool, str | None, str]]:
    """Quote- and CASE-aware split of a MERGE tail into
    ``(is_not_matched, condition, action)`` clauses.

    The old regex split was neither: a ``;`` inside an INSERT literal made
    it silently DROP the clause (the merge then executed matched-only —
    a different statement than written), and a literal containing
    ``WHEN MATCHED`` split mid-literal.  Here clause heads are found only
    outside literals and outside CASE blocks, the whole tail must be
    consumed (anything before the first head is an error, every head
    starts a clause), and each clause's THEN is located with the same
    literal/paren/CASE discipline.
    """
    # clause-head offsets: WHEN [NOT] MATCHED outside literals and CASE
    heads = []
    depth = case_depth = pos = 0
    tok_pat = re.compile(
        r"[()]|\bCASE\b|\bEND\b|\bWHEN\s+(?:NOT\s+)?MATCHED\b", re.IGNORECASE
    )
    for seg, quoted in _segments(text):
        if not quoted:
            for m in tok_pat.finditer(seg):
                tok = m.group().upper()
                if tok == "(":
                    depth += 1
                elif tok == ")":
                    depth -= 1
                elif tok == "CASE":
                    case_depth += 1
                elif tok == "END":
                    case_depth = max(0, case_depth - 1)
                elif depth == 0 and case_depth == 0:
                    heads.append(pos + m.start())
        pos += len(seg)
    if not heads:
        raise ValueError("MERGE has no WHEN clause")
    if text[: heads[0]].strip():
        raise ValueError(
            f"unparseable text before first WHEN clause: {text[: heads[0]].strip()!r}"
        )
    out = []
    for a, b in zip(heads, heads[1:] + [len(text)]):
        chunk = text[a:b].strip().rstrip(";").strip()
        hm = _WHEN_HEAD_RE.match(chunk)
        neg = bool(hm.group(1))
        rest = chunk[hm.end():].strip()
        then_at = _find_top_keyword(rest, "THEN")
        if then_at < 0:
            raise ValueError(f"WHEN clause missing THEN: {chunk!r}")
        cond_text = rest[:then_at].strip()
        action = rest[then_at + len("THEN"):].strip()
        cond: str | None = None
        if cond_text:
            am = re.match(r"AND\b", cond_text, re.IGNORECASE)
            if not am:
                raise ValueError(
                    f"expected AND <condition> before THEN, got {cond_text!r}"
                )
            cond = cond_text[am.end():].strip()
        if not action:
            raise ValueError(f"WHEN clause has empty action: {chunk!r}")
        out.append((neg, cond, action))
    return out


def _alias_rewrite(expr: str, t_alias: str | None, s_alias: str | None) -> str:
    """Translate ``t.col`` → ``col`` and ``s.col`` → ``src_col`` so the
    statement's alias-qualified expressions land in merge_into's joined
    scope (target columns bare, source columns ``src_``-prefixed).
    String literals pass through untouched: ``'s.tag'`` is data, not an
    alias reference."""
    out = []
    for seg, quoted in _segments(expr):
        if not quoted:
            if s_alias:
                seg = re.sub(rf"\b{re.escape(s_alias)}\.(\w+)", r"src_\1", seg)
            if t_alias:
                seg = re.sub(rf"\b{re.escape(t_alias)}\.(\w+)", r"\1", seg)
        out.append(seg)
    return "".join(out)


def _parse_merge_on(on_text: str, t_alias: str | None, s_alias: str | None) -> list[str]:
    keys = []
    for conj in re.split(r"\bAND\b", on_text, flags=re.IGNORECASE):
        m = re.fullmatch(
            r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", conj
        )
        if not m:
            raise ValueError(
                f"MERGE ON must be equi-conjuncts 'a.col = b.col', got {conj.strip()!r}"
            )
        a, acol, b, bcol = m.groups()
        pair = {a: acol, b: bcol}
        if t_alias not in pair or s_alias not in pair:
            raise ValueError(f"MERGE ON references unknown alias in {conj.strip()!r}")
        if pair[t_alias] != pair[s_alias]:
            raise ValueError(
                "MERGE ON key columns must share a name on both sides "
                f"(got {pair[t_alias]!r} vs {pair[s_alias]!r}); alias the "
                "source column first"
            )
        keys.append(pair[t_alias])
    return keys


#: (verb, mor) -> the executing verb; each commits locked or optimistic
#: through the one commit loop (operators/commit.py)
_VERBS = {
    ("DELETE", False): delete_where,
    ("DELETE", True): dv_delete_where,
    ("UPDATE", False): update_where,
    ("UPDATE", True): dv_update_where,
    ("MERGE", False): merge_into,
    ("MERGE", True): dv_merge_into,
}


def execute_dml(
    spark: SparkSession,
    text: str,
    tables: dict[str, str],
    optimistic: bool = False,
    mor: bool = False,
) -> MutationStats:
    """Parse an UPDATE / DELETE / MERGE statement and execute it
    copy-on-write.

    ``optimistic=True`` passes to the verb: the multi-writer
    commit-or-retry protocol (operators/commit.py; flat and
    hive-partitioned tables).

    ``mor=True`` routes UPDATE/DELETE/MERGE through the merge-on-read
    deletion-vector verbs (operators/mor.py): O(changed rows) sidecar +
    append writes, zero file rewrites, read back via ``read_mor``.
    ``mor=True, optimistic=True`` composes for all three verbs: scans
    and staging writes outside the lock, file-scoped
    validate-and-move-in; writers touching disjoint files commit
    first-attempt.

    ``tables`` maps table names to parquet directory paths (the catalog
    the reference gets from its live MySQL connection).  The MERGE
    dialect is the standard one::

        MERGE INTO t [AS a] USING s [AS b] ON a.k = b.k [AND ...]
        [WHEN MATCHED AND <cond> THEN DELETE]
        [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, ...]
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT [(cols) VALUES (exprs)]]

    Clause semantics match SQL's first-matching-clause rule for the
    subset this executor supports: when both MATCHED clauses are present,
    the DELETE must come FIRST and carry a condition (the executor
    applies the delete predicate before the update; a statement whose
    textual order says otherwise is rejected rather than silently
    reordered).  A NOT MATCHED condition may reference only source
    columns — there is no target row to read.  INSERT without a column
    list defaults unlisted target columns to the same-named source
    column (else NULL), the common upsert.
    """
    m = _MERGE_RE.match(text)
    if m:
        t_name, t_alias, s_name, s_alias, on_text, clauses = m.groups()
        t_alias = t_alias or t_name
        s_alias = s_alias or s_name
        for n in (t_name, s_name):
            if n not in tables:
                raise ValueError(f"unknown table {n!r}")
        on = _parse_merge_on(on_text, t_alias, s_alias)
        matched_set = None
        matched_delete = None
        want_insert = False
        insert_values = None
        insert_condition = None
        saw_update = False
        for neg, cond, action in _split_when_clauses(clauses):
            action_l = action
            if neg:
                if not action_l.upper().startswith("INSERT"):
                    raise ValueError("WHEN NOT MATCHED supports only INSERT")
                if want_insert:
                    # silently keeping only the LAST clause would execute a
                    # different statement than the user wrote
                    raise ValueError(
                        "multiple WHEN NOT MATCHED INSERT clauses: this "
                        "executor supports one (merge the conditions)"
                    )
                want_insert = True
                if cond:
                    if re.search(rf"\b{re.escape(t_alias)}\.", cond):
                        raise ValueError(
                            "WHEN NOT MATCHED condition cannot reference "
                            f"the target alias {t_alias!r}: there is no "
                            "target row"
                        )
                    insert_condition = _alias_rewrite(cond, t_alias, s_alias)
                mi = re.fullmatch(
                    r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*",
                    action_l,
                    flags=re.IGNORECASE | re.DOTALL,
                )
                if mi:
                    cols = [c.strip() for c in mi.group(1).split(",")]
                    vals = list(_split_values(mi.group(2)))
                    if len(cols) != len(vals):
                        raise ValueError(
                            "INSERT column/value count mismatch: "
                            f"{len(cols)} vs {len(vals)}"
                        )
                    insert_values = {
                        c: _alias_rewrite(v, t_alias, s_alias)
                        for c, v in zip(cols, vals)
                    }
                elif action_l.upper() != "INSERT":
                    raise ValueError(
                        f"unsupported INSERT form {action_l!r}; use bare "
                        "INSERT (same-named source columns) or "
                        "INSERT (cols) VALUES (exprs)"
                    )
            elif action_l.upper().startswith("UPDATE"):
                if matched_set is not None:
                    raise ValueError(
                        "multiple WHEN MATCHED UPDATE clauses: this "
                        "executor supports one (fold the conditions into "
                        "CASE expressions)"
                    )
                saw_update = True
                set_text = re.sub(
                    r"^UPDATE\s+SET\s+", "", action_l, flags=re.IGNORECASE
                )
                matched_set = {
                    _alias_rewrite(k, t_alias, s_alias): _alias_rewrite(
                        v, t_alias, s_alias
                    )
                    for k, v in _split_assignments(set_text).items()
                }
                if cond:
                    # per-clause condition: rows matched but failing it
                    # keep their old values (merge_into applies the set
                    # to every matched row, so fold the condition in)
                    guard = _alias_rewrite(cond, t_alias, s_alias)
                    matched_set = {
                        k: f"CASE WHEN ({guard}) THEN ({v}) ELSE ({k}) END"
                        for k, v in matched_set.items()
                    }
            elif action_l.upper() == "DELETE":
                if matched_delete is not None:
                    raise ValueError(
                        "multiple WHEN MATCHED DELETE clauses: this "
                        "executor supports one (OR the conditions)"
                    )
                if saw_update:
                    raise ValueError(
                        "WHEN MATCHED DELETE after WHEN MATCHED UPDATE: "
                        "SQL applies the first matching clause, but this "
                        "executor evaluates the delete predicate first — "
                        "put the (conditional) DELETE clause before the "
                        "UPDATE"
                    )
                matched_delete = (
                    _alias_rewrite(cond, t_alias, s_alias) if cond else "true"
                )
            else:
                raise ValueError(f"unsupported MERGE action {action_l!r}")
        if matched_delete == "true" and matched_set is not None:
            raise ValueError(
                "an unconditional WHEN MATCHED DELETE makes the UPDATE "
                "clause unreachable; give the DELETE a condition"
            )
        # DV-aware source read: if the USING table is itself merge-on-read
        # (e.g. MERGE INTO t USING t after a dv_update), a base read would
        # feed tombstoned rows and duplicate keys into the merge
        verb, name, args = "MERGE", t_name, (read_mor(spark, tables[s_name]),)
        kwargs = dict(
            on=on,
            matched_set=matched_set,
            matched_delete=matched_delete,
            insert_values=insert_values,
            # without a NOT MATCHED clause, unmatched source rows are no-ops
            insert_condition=insert_condition if want_insert else "false",
        )
    elif m := _UPDATE_RE.match(text):
        name, rest = m.group(1), m.group(2)
        idx = _find_top_where(rest)
        if idx >= 0:
            set_text, where = rest[:idx], rest[idx + len("WHERE"):]
        else:
            set_text, where = rest, "true"
        if not where.strip():
            raise ValueError("UPDATE has WHERE with no condition")
        verb, args = "UPDATE", (_split_assignments(set_text), where)
        kwargs = {}
    elif m := _DELETE_RE.match(text):
        name, where = m.group(1), m.group(2)
        verb, args, kwargs = "DELETE", (where or "true",), {}
    elif m := _ALTER_RE.match(text):
        name, action, cname, expr = m.groups()
        if name not in tables:
            raise ValueError(f"unknown table {name!r}")
        if action.upper() == "ADD":
            if expr is None:
                raise ValueError(
                    "ALTER TABLE ... ADD CONSTRAINT needs CHECK (<expr>)"
                )
            add_constraint(spark, tables[name], cname, expr.strip())
        else:
            if expr is not None:
                raise ValueError(
                    "ALTER TABLE ... DROP CONSTRAINT takes no CHECK clause"
                )
            drop_constraint(spark, tables[name], cname)
        # constraint DDL moves no rows; the zero stats make the textual
        # front-end's return type uniform
        return MutationStats(0, 0, 0)
    else:
        raise ValueError(
            "not an executable DML statement (MERGE INTO ... USING ... | "
            "UPDATE ... SET ... WHERE ... | "
            "DELETE FROM ... WHERE ... | "
            "ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<expr>) | "
            "ALTER TABLE ... DROP CONSTRAINT <name>)"
        )
    if name not in tables:
        raise ValueError(f"unknown table {name!r}")
    path = tables[name]
    return _VERBS[verb, mor](
        spark, path, *args, optimistic=optimistic, **kwargs
    )
