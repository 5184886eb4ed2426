"""SQL front-end for table DML/DDL statements on catalog tables.

The reference runs on Databricks, where users issue ``DELETE FROM`` /
``UPDATE`` / ``TRUNCATE TABLE`` / ``ALTER TABLE ADD CONSTRAINT`` /
``RESTORE TABLE`` / ``VACUUM`` against Delta tables as ordinary SQL.
OSS Spark 4.1.2 rejects every one of them on path-based parquet tables
(DELETE/UPDATE need a v2 table with row-level-op support; the rest are
Delta-only syntax). **[extension]** This module is the dialect adapter:
a bounded statement grammar dispatched onto the engine's own
implementations —

    DELETE FROM t WHERE ...      → operators/dml.py:delete_where
    UPDATE t SET a=..., b=...
        WHERE ...                → operators/dml.py:update_where
        (WHERE is mandatory — an unconditional UPDATE is refused like
        an unconditional DELETE; ``WHERE true`` is the explicit
        whole-table opt-in. Duplicate SET targets are rejected.)
    TRUNCATE TABLE t             → Catalog.truncate
    ALTER TABLE t ADD CONSTRAINT
        name CHECK (expr)        → Catalog.add_constraint
    ALTER TABLE t DROP CONSTRAINT
        name                     → Catalog.drop_constraint
    ALTER TABLE t ADD COLUMNS (c1 T1, ...)
      | DROP COLUMN(S) c[, ...]
      | RENAME COLUMN a TO b     → versioned whole-table rewrite
        (parquet readers take schema from footers — no metadata-only
        DDL here; partition / constraint-referenced columns refused)
    RESTORE TABLE t TO VERSION
        AS OF n                  → Catalog.restore
    VACUUM t [DRY RUN]           → Catalog.vacuum
    CREATE [OR REPLACE] TABLE t
        [PARTITIONED BY (cols)]
        AS SELECT ...            → Catalog.overwrite_via_staging
        (CREATE refuses an existing table; OR REPLACE is the
        versioned overwrite)
    CREATE TABLE t2 [SHALLOW|DEEP] CLONE t
        [VERSION AS OF n]        → Catalog.clone
    DROP TABLE [IF EXISTS] t     → Catalog.drop
    SHOW TABLES                  → warehouse listing frame
    SHOW PARTITIONS t            → hive-leaf listing frame
        (directory metadata only — no data scan)
    DESCRIBE [TABLE] t           → schema frame (Spark DESCRIBE shape)
    COPY INTO t FROM '<path>'
        FILEFORMAT = <fmt>       → ingest.copy_into (file-level
        idempotent batch load; composes with append's txn protocol)
    SELECT ... FROM table_changes('t', from[, to], 'k1,k2')
                                 → Catalog.table_changes (per-commit
        CDF; the trailing key list is required — this feed diffs by
        key, plain parquet has no Delta row tracking)
    MERGE [WITH SCHEMA EVOLUTION] INTO t USING s ON ...
        WHEN [NOT] MATCHED [BY SOURCE] [AND c]
        THEN UPDATE SET */sets
           | DELETE | INSERT ... → operators/merge_clauses.py, the one
        merge core (partition-pruned when the layout allows); the
        canonical upsert shape dedups the source latest-wins, every
        other clause set refuses duplicate source keys

so a user migrating the reference's notebooks keeps their statements.
Like plans/qualify.py this is a *string-level* adapter, not a SQL
parser: statement heads are matched with the same depth-0,
string/comment-aware token scan, expressions (WHERE predicates, SET
right-hand sides, CHECK bodies) are passed VERBATIM to Spark's own
``F.expr`` — Catalyst owns expression semantics, this module only
finds the clause boundaries. Anything outside the grammar raises
``UnsupportedStatement`` naming what was seen (fail fast, never guess).

Partition pruning is automatic: the table's hive layout is detected
from its directory tree (``catalog.detect_partition_cols``) and passed
to the DML so a DELETE/UPDATE whose matches live in 3 of 3,000 partitions
reads and rewrites only those 3 — the SQL user gets the pruned path
without knowing it exists.
"""

from __future__ import annotations

import os

from ..catalog import detect_partition_cols as _detect_partition_cols
from .qualify import _scan_tokens

__all__ = ["run_table_sql", "run_table_script", "UnsupportedStatement"]


class UnsupportedStatement(ValueError):
    """Statement outside the supported DML/DDL grammar."""


def _strip(sql: str) -> str:
    s = sql.strip()
    while s.endswith(";"):
        s = s[:-1].rstrip()
    return s


def _split_top_level_commas(s: str) -> list[str]:
    """Split on commas at paren depth 0, skipping string literals and
    backtick identifiers — SET lists contain commas inside function
    calls (``SET a = coalesce(x, 0), b = 1``)."""
    parts, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch in "'\"`":
            q = ch
            i += 1
            while i < n and s[i] != q:
                i += 2 if s[i] == "\\" else 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _ident(tok: str) -> str:
    return tok.strip()


def _tokens(sql: str) -> list[tuple[str, int, int]]:
    return list(_scan_tokens(sql))


def _clause_pos(toks, *keywords):
    """Start offset of the first depth-0 keyword run, or None."""
    kws = [k.upper() for k in keywords]
    for i in range(len(toks) - len(kws) + 1):
        if [t[0] for t in toks[i:i + len(kws)]] == kws:
            return i
    return None


def _table_name(sql: str, toks, idx: int) -> tuple[str, int]:
    """Dotted table name starting at token idx; returns (name, index
    of the first token AFTER the name). Plain identifiers only —
    catalog table names in this engine are unquoted; run_table_sql
    refuses backquoted statements up front (the token scan skips
    backtick spans, so they would silently misparse)."""
    if idx >= len(toks):
        raise UnsupportedStatement(
            f"statement ends where a table name was expected: {sql[:80]}"
        )
    name = _ident(sql[toks[idx][1]:toks[idx][2]])
    j = idx
    while (
        j + 1 < len(toks)
        and sql[toks[j][2]:toks[j + 1][1]].strip() == "."
    ):
        j += 1
        name += "." + _ident(sql[toks[j][1]:toks[j][2]])
    return name, j + 1


def _unquote_simple_backticks(s: str) -> str:
    """Rewrite ``\\`ident\\``` → ``ident`` outside string literals.

    The reference's own gold statement spells its MV name with
    backticks (``CREATE MATERIALIZED VIEW `gold`.`brapi`.`prices` ...``,
    reference Pipelines/Test/transformations/test.sql:3); plain
    identifiers quoted for style are semantically unquoted. Only
    [A-Za-z_][A-Za-z0-9_]* spans are rewritten — exotic identifiers
    (spaces, dots, reserved words that NEED the quoting) keep their
    backticks and hit run_table_sql's explicit refusal instead of
    misparsing."""
    import re as _re

    reserved = {
        "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "BY", "HAVING",
        "JOIN", "ON", "AS", "AND", "OR", "NOT", "IN", "IS", "NULL",
        "UNION", "ALL", "DISTINCT", "LIMIT", "CASE", "WHEN", "THEN",
        "ELSE", "END", "TABLE", "VIEW", "CREATE", "DROP", "INSERT",
        "UPDATE", "DELETE", "SET", "VALUES", "INTO", "USING", "MERGE",
    }
    ident = _re.compile(r"`([A-Za-z_][A-Za-z0-9_]*)`")
    out, i, n = [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            q, j = ch, i + 1
            while j < n:
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == q:
                    j += 1
                    break
                j += 1
            out.append(s[i:j])
            i = j
            continue
        if ch == "`":
            m = ident.match(s, i)
            if m and m.group(1).upper() not in reserved:
                out.append(m.group(1))
                i = m.end()
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _backtick_outside_literals(s: str) -> bool:
    """True when a backtick survives outside string literals — the
    refusal condition (a backtick INSIDE a literal is just data)."""
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            q, i = ch, i + 1
            while i < n:
                if s[i] == "\\":
                    i += 2
                    continue
                if s[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if ch == "`":
            return True
        i += 1
    return False


def _parse_cols_clause(s: str, toks, after: int, kw0: str, kw1: str):
    """Optional ``<KW0> <KW1> (c1, c2)`` at token ``after``; returns
    (cols-or-None, first token index after the clause)."""
    if not (
        after + 1 < len(toks)
        and [t[0] for t in toks[after:after + 2]] == [kw0, kw1]
    ):
        return None, after
    body_start = toks[after + 1][2]
    rest = s[body_start:].lstrip()
    if not rest.startswith("("):
        raise UnsupportedStatement(
            f"{kw0} {kw1} needs a parenthesized column list: {s[:80]}"
        )
    depth, i = 0, 0
    off = body_start + (len(s[body_start:]) - len(rest))
    for i, ch in enumerate(rest):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
    cols = [c.strip() for c in rest[1:i].split(",") if c.strip()]
    if not cols:
        raise UnsupportedStatement(
            f"empty {kw0} {kw1} column list: {s[:80]}"
        )
    nxt = next(
        (k for k in range(after + 2, len(toks)) if toks[k][1] > off + i),
        len(toks),
    )
    return cols, nxt


def _parse_partitioned_by(s: str, toks, after: int):
    return _parse_cols_clause(s, toks, after, "PARTITIONED", "BY")


def _parse_cluster_by(s: str, toks, after: int):
    return _parse_cols_clause(s, toks, after, "CLUSTER", "BY")


def _rewrite_alias_refs(expr: str, t_alias: str, s_alias: str) -> str:
    """Rewrite ``alias.col`` references in a MERGE clause expression to
    the joined-frame names merge_apply uses: target alias → plain
    column, source alias → ``__s_col``. Works at ANY paren depth
    (expressions nest function calls), skips string literals and
    comments with the same scanner discipline as _scan_tokens.
    Identifier matching is case-insensitive (SQL aliases are)."""
    import re as _re

    word = _re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
    out, i, n = [], 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch in "'\"":
            q, j = ch, i + 1
            while j < n:
                if expr[j] == "\\":
                    j += 2
                    continue
                if expr[j] == q:
                    if j + 1 < n and expr[j + 1] == q:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            out.append(expr[i:j])
            i = j
            continue
        m = word.match(expr, i)
        if not m:
            out.append(ch)
            i += 1
            continue
        tok = m.group(0)
        j = m.end()
        # lookahead: alias '.' ident
        k = j
        while k < n and expr[k] in " \t":
            k += 1
        m2 = None
        if k < n and expr[k] == ".":
            k += 1
            while k < n and expr[k] in " \t":
                k += 1
            m2 = word.match(expr, k)
        low = tok.lower()
        if m2 and low == s_alias.lower():
            out.append(f"{_SOURCE_PREFIX}{m2.group(0)}")
            i = m2.end()
        elif m2 and low == t_alias.lower():
            out.append(m2.group(0))
            i = m2.end()
        else:
            out.append(tok)
            i = j
    return "".join(out)


_SOURCE_PREFIX = "__s_"


def _merge_source_frame(catalog, spec: str):
    """Resolve the USING clause: ``(SELECT ...) [AS] alias`` runs the
    subquery with every warehouse table registered; a plain name is a
    catalog table (or an existing temp view). Returns (frame, alias)."""
    from .qualify import run_sql

    spec = spec.strip()
    if spec.startswith("("):
        depth, i = 0, 0
        for i, ch in enumerate(spec):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
        if depth != 0:
            raise UnsupportedStatement(
                f"unbalanced parens in USING subquery: {spec[:80]}"
            )
        inner, rest = spec[1:i], spec[i + 1:].strip()
        alias_toks = rest.split()
        if alias_toks and alias_toks[0].upper() == "AS":
            alias_toks = alias_toks[1:]
        if len(alias_toks) != 1:
            raise UnsupportedStatement(
                "USING (subquery) needs exactly one alias: "
                f"...{rest[:40]!r}"
            )
        mapping = catalog.register_referenced(inner)
        return (
            run_sql(catalog.spark, inner, table_mapping=mapping),
            alias_toks[0],
        )
    import re as _re

    tm = _re.match(
        r"([A-Za-z_][\w.]*)\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        r"('[^']*'|\S+)\s*(.*)$",
        spec,
        _re.IGNORECASE | _re.DOTALL,
    )
    if tm:
        # MERGE ... USING s VERSION|TIMESTAMP AS OF <n|'ts'> [alias]:
        # replay yesterday's changeset — the repair story (VERDICT r12
        # ask #6). Resolves through the same read_version /
        # read_timestamp every SELECT-side time-travel span uses.
        name, kind, val, rest = tm.groups()
        alias_toks = rest.split()
        if alias_toks and alias_toks[0].upper() == "AS":
            alias_toks = alias_toks[1:]
        if len(alias_toks) > 1:
            raise UnsupportedStatement(
                f"bad USING time-travel source spec: {spec[:80]!r}"
            )
        alias = alias_toks[0] if alias_toks else name.split(".")[-1]
        if kind.upper() == "VERSION":
            if not _re.fullmatch(r"\d+", val):
                raise UnsupportedStatement(
                    f"VERSION AS OF needs an integer: {val!r}"
                )
            return catalog.read_version(name, version=int(val)), alias
        ts = val[1:-1] if val.startswith("'") else val
        return catalog.read_timestamp(name, ts), alias
    parts = spec.split()
    if len(parts) == 3 and parts[1].upper() == "AS":
        name, alias = parts[0], parts[2]
    elif len(parts) == 2:
        name, alias = parts
    elif len(parts) == 1:
        name, alias = parts[0], parts[0].split(".")[-1]
    else:
        raise UnsupportedStatement(
            f"bad USING source spec: {spec[:80]!r}"
        )
    if catalog.exists(name):
        return catalog.read(name), alias
    views = catalog.stored_views()
    if name in views:
        # a stored (lazy) view is a fine CHANGESET: resolve its
        # definition against the live bases (r12)
        return (
            run_sql(
                catalog.spark, views[name],
                table_mapping=catalog.register_referenced(views[name]),
            ),
            alias,
        )
    try:
        return catalog.spark.table(name), alias
    except Exception:
        raise UnsupportedStatement(
            f"USING source {name!r} is neither a catalog table, a "
            "stored view, nor a registered temp view"
        ) from None


def _parse_merge_on(
    on_text: str, t_alias: str, s_alias: str
) -> tuple[list[tuple[str, str]], str | None]:
    """The bounded ON grammar: a conjunction of equi-key terms
    ``t.a = s.b`` (either side order) plus at most one timestamp guard
    ``s.ts >= t.ts`` / ``>``. The guard is applied as an implicit
    MATCHED condition, NOT as join membership — the reference's own
    statement puts it in ON (lib/ingestors.py:123), where a stale
    changeset row counts as NOT MATCHED and duplicates the key on
    insert; this engine deliberately fixes that (SURVEY §7.4(2), same
    correction merge_upsert makes). Returns (key_pairs, guard) where
    guard is None or ``(source_col, op, target_col)``."""
    import re as _re

    term_re = _re.compile(
        r"^\s*([A-Za-z_][\w]*)\s*\.\s*([A-Za-z_][\w]*)\s*"
        r"(=|>=|>|<=|<)\s*([A-Za-z_][\w]*)\s*\.\s*([A-Za-z_][\w]*)\s*$"
    )
    toks = _tokens(on_text)
    bounds, prev = [], 0
    for tok, st, en in toks:
        if tok == "AND":
            bounds.append((prev, st))
            prev = en
    bounds.append((prev, len(on_text)))
    pairs: list[tuple[str, str]] = []
    guard = None
    for st, en in bounds:
        term = on_text[st:en]
        m = term_re.match(term)
        if not m:
            raise UnsupportedStatement(
                f"MERGE ON term {term.strip()!r} outside the bounded "
                "grammar (alias.col = alias.col key terms, plus one "
                "s.ts >= t.ts guard)"
            )
        a1, c1, op, a2, c2 = m.groups()
        la1, la2 = a1.lower(), a2.lower()
        tl, sl = t_alias.lower(), s_alias.lower()
        if {la1, la2} != {tl, sl}:
            raise UnsupportedStatement(
                f"MERGE ON term {term.strip()!r} must reference both "
                f"aliases ({t_alias!r}, {s_alias!r}) exactly once"
            )
        t_col, s_col = (c1, c2) if la1 == tl else (c2, c1)
        if op == "=":
            pairs.append((t_col, s_col))
            continue
        # normalize the guard to "source-side OP target-side"
        if la1 == sl:
            s_side, real_op, t_side = c1, op, c2
        else:
            flip = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
            s_side, real_op, t_side = c2, flip[op], c1
        if real_op not in (">=", ">"):
            raise UnsupportedStatement(
                f"MERGE ON guard {term.strip()!r}: only a newer-wins "
                "source >= / > target timestamp guard is supported"
            )
        if guard is not None:
            raise UnsupportedStatement(
                "MERGE ON carries more than one non-equality guard"
            )
        guard = (s_side, real_op, t_side)
    if not pairs:
        raise UnsupportedStatement(
            "MERGE ON has no equi-key term — the merge join needs at "
            "least one t.key = s.key"
        )
    return pairs, guard


def _parse_merge_clauses(s: str, toks, start: int, t_alias: str, s_alias: str):
    """Parse the WHEN ... THEN ... clause list (tokens from ``start``
    on). Returns (matched, not_matched, not_matched_by_source) clause
    lists for merge_apply, with every condition/expression rewritten
    into joined-frame names."""
    from ..operators.merge_clauses import (
        MatchedClause,
        NotMatchedBySourceClause,
        NotMatchedClause,
    )

    rw = lambda e: _rewrite_alias_refs(e, t_alias, s_alias)  # noqa: E731
    when_idx = [
        i for i in range(start, len(toks)) if toks[i][0] == "WHEN"
    ]
    if not when_idx:
        raise UnsupportedStatement(
            "MERGE needs at least one WHEN clause"
        )
    if toks[when_idx[0]][1] != toks[start][1]:
        raise UnsupportedStatement(
            "unexpected tokens between ON condition and first WHEN: "
            f"{s[toks[start][1]:toks[start][1] + 60]!r}"
        )
    matched, not_matched, by_source = [], [], []
    for n_, i in enumerate(when_idx):
        seg_end = (
            toks[when_idx[n_ + 1]][1]
            if n_ + 1 < len(when_idx)
            else len(s)
        )
        j = i + 1
        negated = False
        if toks[j][0] == "NOT":
            negated = True
            j += 1
        if toks[j][0] != "MATCHED":
            raise UnsupportedStatement(
                f"expected [NOT] MATCHED after WHEN: "
                f"{s[toks[i][1]:toks[i][1] + 60]!r}"
            )
        j += 1
        kind = "not_matched" if negated else "matched"
        if j < len(toks) and toks[j][0] == "BY":
            which = toks[j + 1][0] if j + 1 < len(toks) else ""
            if not negated or which not in ("SOURCE", "TARGET"):
                raise UnsupportedStatement(
                    f"bad BY qualifier in MERGE clause: "
                    f"{s[toks[i][1]:toks[i][1] + 60]!r}"
                )
            if which == "SOURCE":
                kind = "by_source"
            j += 2
        cond = None
        if toks[j][0] == "AND":
            then_rel = _clause_pos(toks[j:], "THEN")
            if then_rel is None:
                raise UnsupportedStatement(
                    f"MERGE clause missing THEN: "
                    f"{s[toks[i][1]:seg_end][:80]!r}"
                )
            cond = rw(s[toks[j][2]:toks[j + then_rel][1]].strip())
            j += then_rel
        if toks[j][0] != "THEN":
            raise UnsupportedStatement(
                f"MERGE clause missing THEN: "
                f"{s[toks[i][1]:seg_end][:80]!r}"
            )
        j += 1
        verb = toks[j][0] if j < len(toks) else ""
        body = s[toks[j][2]:seg_end].strip() if j < len(toks) else ""
        if verb == "DELETE":
            if body:
                raise UnsupportedStatement(
                    f"trailing tokens after DELETE action: {body[:60]!r}"
                )
            if kind == "matched":
                matched.append(MatchedClause(condition=cond, sets=None))
            elif kind == "by_source":
                by_source.append(
                    NotMatchedBySourceClause(condition=cond, sets=None)
                )
            else:
                raise UnsupportedStatement(
                    "WHEN NOT MATCHED THEN DELETE is meaningless "
                    "(there is no target row to delete)"
                )
            continue
        if verb == "UPDATE":
            if kind == "not_matched":
                raise UnsupportedStatement(
                    "WHEN NOT MATCHED supports INSERT, not UPDATE"
                )
            if j + 1 >= len(toks) or toks[j + 1][0] != "SET":
                raise UnsupportedStatement(
                    f"UPDATE action needs SET: {body[:60]!r}"
                )
            set_body = s[toks[j + 1][2]:seg_end].strip()
            if set_body == "*":
                if kind == "by_source":
                    raise UnsupportedStatement(
                        "NOT MATCHED BY SOURCE has no source row — "
                        "UPDATE SET * is meaningless there"
                    )
                matched.append(
                    MatchedClause(condition=cond, update_all=True)
                )
                continue
            sets: dict[str, str] = {}
            for item in _split_top_level_commas(set_body):
                col, eq, rhs = item.partition("=")
                if not eq or not rhs.strip():
                    raise UnsupportedStatement(
                        f"bad SET item {item!r} (expected col = expr)"
                    )
                cn = rw(_ident(col))
                if cn in sets:
                    raise UnsupportedStatement(
                        f"column {cn!r} appears more than once in the "
                        "SET list"
                    )
                sets[cn] = rw(rhs.strip())
            if not sets:
                raise UnsupportedStatement("empty SET clause in MERGE")
            if kind == "by_source":
                by_source.append(
                    NotMatchedBySourceClause(condition=cond, sets=sets)
                )
            else:
                matched.append(MatchedClause(condition=cond, sets=sets))
            continue
        if verb == "INSERT":
            if kind != "not_matched":
                raise UnsupportedStatement(
                    "INSERT belongs to WHEN NOT MATCHED clauses only"
                )
            if body == "*":
                not_matched.append(
                    NotMatchedClause(condition=cond, insert_all=True)
                )
                continue
            import re as _re

            m = _re.match(
                r"^\(([^)]*)\)\s*VALUES\s*\((.*)\)$",
                body,
                _re.IGNORECASE | _re.DOTALL,
            )
            if not m:
                raise UnsupportedStatement(
                    "INSERT action must be INSERT * or INSERT (cols) "
                    f"VALUES (exprs): {body[:80]!r}"
                )
            cols = [c.strip() for c in m.group(1).split(",") if c.strip()]
            exprs = _split_top_level_commas(m.group(2))
            if len(cols) != len(exprs) or not cols:
                raise UnsupportedStatement(
                    f"INSERT column/value count mismatch: {len(cols)} "
                    f"cols, {len(exprs)} values"
                )
            if len(set(c.lower() for c in cols)) != len(cols):
                raise UnsupportedStatement(
                    "duplicate column in INSERT column list"
                )
            not_matched.append(
                NotMatchedClause(
                    condition=cond,
                    values={c: rw(e) for c, e in zip(cols, exprs)},
                )
            )
            continue
        raise UnsupportedStatement(
            f"unknown MERGE action {verb!r} (UPDATE SET / DELETE / "
            "INSERT)"
        )
    return matched, not_matched, by_source


def _balanced_paren_span(s: str, start: int) -> tuple[str, int]:
    """(inner text, index just past the closing paren) of the balanced
    span whose '(' is the first non-space char at/after ``start``."""
    i = start
    while i < len(s) and s[i].isspace():
        i += 1
    if i >= len(s) or s[i] != "(":
        raise UnsupportedStatement(
            f"expected a parenthesized list at: {s[start:start + 60]!r}"
        )
    depth, j = 0, i
    while j < len(s):
        ch = s[j]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[i + 1:j], j + 1
        elif ch in "'\"":
            q = ch
            j += 1
            while j < len(s) and s[j] != q:
                j += 2 if s[j] == "\\" else 1
        j += 1
    raise UnsupportedStatement(
        f"unbalanced parentheses at: {s[start:start + 60]!r}"
    )


def _create_table_columns(catalog, s, toks, table, after, name_end, replace):
    """Column-list DDL: CREATE [OR REPLACE] TABLE t (c1 T1, c2 T2
    [GENERATED ALWAYS AS (expr)], ...) — the statement every
    quickstart opens with (VERDICT r11 ask #5). Creates an EMPTY
    typed table (one schema-bearing empty parquet file, so readers
    and the first INSERT see the declared types); generated columns
    are declared through the same set_generated_column path every
    write then enforces. PARTITIONED BY is recorded as a DECLARATION
    in the table's definition (an empty partitioned parquet directory
    has no hive leaves to detect): the empty table is written flat with
    one schema-anchor file, and the FIRST data write replaces the
    directory with the declared partitioned layout
    (``Catalog.append``'s declared-empty branch)."""
    import re as _re

    body, paren_end = _balanced_paren_span(s, name_end)
    tail_start = next(
        (i for i in range(after, len(toks)) if toks[i][1] >= paren_end),
        len(toks),
    )
    pby, tail_start = _parse_partitioned_by(s, toks, tail_start)
    cby, tail_start = _parse_cluster_by(s, toks, tail_start)
    if pby and cby:
        raise UnsupportedStatement(
            "a table is either PARTITIONED BY or CLUSTER BY, not "
            f"both: {s[:80]}"
        )
    # optional trailing COMMENT 'text' and TBLPROPERTIES ('k'='v', ...)
    # — parsed here so SHOW CREATE TABLE's output round-trips
    tcomment = None
    tprops: dict[str, str] = {}
    if tail_start < len(toks) and toks[tail_start][0] == "COMMENT":
        cm = _re.match(
            r"\s*'((?:[^']|'')*)'", s[toks[tail_start][2]:]
        )
        if not cm:
            raise UnsupportedStatement(
                f"CREATE TABLE COMMENT needs a quoted string: {s[:80]}"
            )
        tcomment = cm.group(1).replace("''", "'")
        cend = toks[tail_start][2] + cm.end()
        tail_start = next(
            (i for i in range(tail_start + 1, len(toks))
             if toks[i][1] >= cend),
            len(toks),
        )
    if tail_start < len(toks) and toks[tail_start][0] == "TBLPROPERTIES":
        pbody, pend = _balanced_paren_span(s, toks[tail_start][2])
        pairs = _re.findall(
            r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'", pbody
        )
        if not pairs:
            raise UnsupportedStatement(
                "TBLPROPERTIES needs ('k' = 'v', ...): "
                f"{pbody[:60]!r}"
            )
        tprops = {
            k.replace("''", "'"): v.replace("''", "'")
            for k, v in pairs
        }
        tail_start = next(
            (i for i in range(tail_start + 1, len(toks))
             if toks[i][1] >= pend),
            len(toks),
        )
    if tail_start < len(toks):
        raise UnsupportedStatement(
            "trailing tokens after CREATE TABLE column list: "
            f"{s[toks[tail_start][1]:][:60]!r}"
        )
    gen_re = _re.compile(
        r"\bGENERATED\s+(ALWAYS|BY\s+DEFAULT)\s+AS\b", _re.IGNORECASE
    )
    # Delta's grammar makes START WITH and INCREMENT BY independently
    # optional: (), (START WITH n), (INCREMENT BY m), or both
    ident_re = _re.compile(
        r"\s*IDENTITY\s*"
        r"(?:\(\s*(?:START\s+WITH\s+(-?\d+)\s*)?"
        r"(?:INCREMENT\s+BY\s+(-?\d+)\s*)?\))?\s*$",
        _re.IGNORECASE,
    )
    fields: list[tuple[str, str]] = []
    generated: dict[str, str] = {}
    identities: dict[str, tuple[int, int]] = {}  # col -> (start, step)
    col_comments: dict[str, str] = {}
    for item in _split_top_level_commas(body):
        m = _re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s+(.+)", item, _re.DOTALL)
        if not m:
            raise UnsupportedStatement(
                f"bad column spec {item!r} (expected: name TYPE "
                "[GENERATED ALWAYS AS (expr) | GENERATED ALWAYS AS "
                "IDENTITY [(START WITH n INCREMENT BY m)]] "
                "[COMMENT 'text'])"
            )
        name, rest = m.group(1), m.group(2).strip()
        ccm = _re.search(
            r"\bCOMMENT\s+'((?:[^']|'')*)'\s*$", rest, _re.IGNORECASE
        )
        if ccm:
            col_comments[name] = ccm.group(1).replace("''", "'")
            rest = rest[:ccm.start()].strip()
        gm = gen_re.search(rest)
        if gm:
            typ = rest[:gm.start()].strip()
            im = ident_re.match(rest[gm.end():])
            if im:
                if gm.group(1).upper() != "ALWAYS":
                    raise UnsupportedStatement(
                        f"column {name!r}: GENERATED BY DEFAULT AS "
                        "IDENTITY (explicit values allowed) is not "
                        "supported — use GENERATED ALWAYS AS IDENTITY"
                    )
                identities[name] = (
                    int(im.group(1) or 1),
                    int(im.group(2) or 1),
                )
            else:
                if gm.group(1).upper() != "ALWAYS":
                    # ADVICE r13: the expression form has no BY
                    # DEFAULT variant either — without this the clause
                    # was silently stored (and enforced) as ALWAYS
                    raise UnsupportedStatement(
                        f"column {name!r}: GENERATED BY DEFAULT AS "
                        "(expr) is not supported — use GENERATED "
                        "ALWAYS AS (expr)"
                    )
                expr, end2 = _balanced_paren_span(rest, gm.end())
                if rest[end2:].strip():
                    raise UnsupportedStatement(
                        f"trailing tokens after GENERATED ALWAYS AS "
                        f"(...) in column {name!r}: {rest[end2:][:40]!r}"
                    )
                generated[name] = expr.strip()
        else:
            typ = rest
        for kw in ("NOT NULL", "PRIMARY KEY", "DEFAULT", "CHECK",
                   "REFERENCES"):
            if _re.search(rf"\b{kw}\b", typ, _re.IGNORECASE):
                raise UnsupportedStatement(
                    f"column option {kw!r} is not supported in CREATE "
                    "TABLE here — CHECK constraints go through ALTER "
                    "TABLE ADD CONSTRAINT; NOT NULL via a CHECK "
                    "(col IS NOT NULL)"
                )
        fields.append((name, typ))
    if not fields:
        raise UnsupportedStatement("empty column list in CREATE TABLE")
    if table in catalog.stored_views():
        raise ValueError(
            f"CREATE TABLE: {table} is a stored VIEW — DROP VIEW it "
            "first"
        )
    if catalog.exists(table):
        if not replace:
            raise ValueError(
                f"CREATE TABLE: {table} already exists — use CREATE OR "
                "REPLACE TABLE to redefine it"
            )
        catalog.clear_definition(table)
    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    try:
        empty = catalog.spark.createDataFrame([], ddl)
    except Exception as e:
        raise UnsupportedStatement(
            f"cannot parse column types in CREATE TABLE {table}: {e}"
        ) from None
    declared_names = [n for n, _t in fields]
    if pby:
        bad_p = [c for c in pby if c not in declared_names]
        if bad_p:
            raise ValueError(
                f"PARTITIONED BY columns {bad_p} not in the column "
                f"list {declared_names}"
            )
        bad_i = sorted(set(pby) & set(identities))
        if bad_i:
            raise ValueError(
                f"PARTITIONED BY columns {bad_i} are IDENTITY columns "
                "— an ever-increasing partition key makes one leaf per "
                "row (Delta refuses this too)"
            )
    if cby:
        bad_c = [c for c in cby if c not in declared_names]
        if bad_c:
            raise ValueError(
                f"CLUSTER BY columns {bad_c} not in the column "
                f"list {declared_names}"
            )
    # one empty part file anchors the schema for read/INSERT
    catalog.overwrite(empty.repartition(1), table)
    if pby:
        catalog.set_declared_partition_cols(table, pby)
    if cby:
        catalog.set_declared_cluster_cols(table, cby)
    for col, expr in generated.items():
        catalog.set_generated_column(table, col, expr)
    for col, (start, step) in identities.items():
        catalog.set_identity_column(table, col, start=start, step=step)
    for col, text in col_comments.items():
        catalog.set_column_comment(table, col, text)
    if tcomment is not None:
        catalog.set_table_comment(table, tcomment)
    if tprops:
        catalog.set_table_properties(table, tprops)
    return None


def _refuse_stored_view(catalog, table: str, verb: str) -> None:
    """Writes target TABLES; a stored (lazy) view is a definition, not
    data — without this guard an INSERT INTO a view would create a
    shadowed table at the view's path."""
    if table in catalog.stored_views():
        raise ValueError(
            f"{verb}: {table} is a stored VIEW (a definition, not "
            "data) — write to its base tables, or DROP VIEW and "
            "CREATE TABLE if a table is intended"
        )


def _create_materialized_view(catalog, s, toks, idx, replace):
    """CREATE [OR REPLACE] MATERIALIZED VIEW v [PARTITIONED BY (..)]
    AS SELECT ... — the reference's literal gold statement
    (Pipelines/Test/transformations/test.sql:3). Dispatches onto
    views.py MaterializedView: the body (QUALIFY dialect allowed)
    is recomputed into a stored table, and the definition persists so
    REFRESH MATERIALIZED VIEW recomputes it later. Plain CREATE VIEW
    is refused by name — every view here is materialized."""
    if toks[idx][0] == "VIEW":
        # plain (lazy) view: the definition is STORED, not the data —
        # every read re-resolves against the live base tables
        name, after = _table_name(s, toks, idx + 1)
        if (
            after >= len(toks)
            or toks[after][0] != "AS"
            or after + 1 >= len(toks)
            or toks[after + 1][0] not in ("SELECT", "WITH")
        ):
            raise UnsupportedStatement(
                f"CREATE VIEW needs AS SELECT ...: {s[:80]}"
            )
        body = s[toks[after + 1][1]:]
        # validate the definition resolves NOW (ANSI CREATE VIEW
        # analyzes the body) — catches typos at declare time
        from .qualify import run_sql

        run_sql(
            catalog.spark, body,
            table_mapping=catalog.register_referenced(body),
        )
        catalog.create_stored_view(name, body, replace=replace)
        return None
    if idx + 1 >= len(toks) or toks[idx + 1][0] != "VIEW":
        raise UnsupportedStatement(
            f"expected CREATE MATERIALIZED VIEW <v> AS SELECT: {s[:80]}"
        )
    name, after = _table_name(s, toks, idx + 2)
    if name in catalog.stored_views():
        raise ValueError(
            f"CREATE MATERIALIZED VIEW: {name} is a stored (lazy) "
            "VIEW — DROP VIEW it first"
        )
    pby, after = _parse_partitioned_by(s, toks, after)
    if (
        after >= len(toks)
        or toks[after][0] != "AS"
        or after + 1 >= len(toks)
        or toks[after + 1][0] not in ("SELECT", "WITH")
    ):
        raise UnsupportedStatement(
            "CREATE MATERIALIZED VIEW needs AS SELECT ...: "
            f"{s[:80]}"
        )
    if catalog.exists(name):
        if not replace:
            raise ValueError(
                f"CREATE MATERIALIZED VIEW: {name} already exists — "
                "use CREATE OR REPLACE MATERIALIZED VIEW to redefine it"
            )
        catalog.clear_definition(name)
    from ..views import MaterializedView

    body = s[toks[after + 1][1]:]
    mv = MaterializedView(
        spark=catalog.spark, catalog=catalog, name=name, sql=body,
        partition_by=pby or [],
    )
    mv.refresh()
    # the view's SQL lives in the table's definition, so DROP
    # removes it with the table and CLONE does not carry it (a clone
    # is a table; re-declare the view if the clone should stay live)
    catalog.update_definition(
        name, mview={"sql": body, "partition_by": pby or []}
    )
    return None


def load_materialized_view(catalog, full_name: str):
    """Rebuild the views.py MaterializedView object for a table
    declared via CREATE MATERIALIZED VIEW; raises by name when the
    table carries no view definition."""
    meta = catalog.definition(full_name).get("mview")
    if not meta:
        raise ValueError(
            f"{full_name} is not a materialized view (no stored "
            "definition — was it created with CREATE MATERIALIZED "
            "VIEW?)"
        )
    from ..views import MaterializedView

    return MaterializedView(
        spark=catalog.spark, catalog=catalog, name=full_name,
        sql=meta["sql"], partition_by=meta.get("partition_by") or [],
    )


def run_table_sql(catalog, sql: str, max_partitions: int = 10_000):
    """Execute one DML/DDL statement against the catalog (grammar in
    the module docstring). Returns: affected-row count (DELETE/UPDATE,
    and INSERT INTO), freed bytes (VACUUM), the restore return value
    (RESTORE), the stats dict (ANALYZE), a DataFrame (SELECT,
    DESCRIBE HISTORY/DETAIL), and None for the remaining metadata
    statements (TRUNCATE, ALTER CONSTRAINT, INSERT OVERWRITE)."""
    s = _strip(sql)
    if "`" in s:
        # style-quoted plain identifiers (`gold`.`brapi`.`prices` —
        # the reference's own gold statement) unquote losslessly;
        # anything fancier keeps its backticks and is refused below
        s = _unquote_simple_backticks(s)
    if "`" in s and _backtick_outside_literals(s):
        raise UnsupportedStatement(
            "backquoted identifiers are not supported here — catalog "
            "table names are plain dotted identifiers (the token scan "
            "skips backtick spans, so accepting them would misparse "
            "the statement silently)"
        )
    toks = _tokens(s)
    if not toks:
        raise UnsupportedStatement("empty statement")
    head = toks[0][0]

    if head == "DELETE":
        if len(toks) < 3 or toks[1][0] != "FROM":
            raise UnsupportedStatement(
                f"expected DELETE FROM <table> ..., got: {s[:80]}"
            )
        table, after = _table_name(s, toks, 2)
        _refuse_stored_view(catalog, table, "DELETE FROM")
        wh = _clause_pos(toks[after:], "WHERE")
        if wh is None:
            raise UnsupportedStatement(
                "DELETE without WHERE removes every row — this engine "
                "refuses that as row-level DML (an all-deleted parquet "
                "directory has no schema to read back); use TRUNCATE "
                f"TABLE {table}"
            )
        cond = s[toks[after + wh][2]:].strip()
        from ..operators.dml import delete_where

        return delete_where(
            catalog, table, cond,
            partition_cols=_detect_partition_cols(catalog.path(table)),
            max_partitions=max_partitions,
        )

    if head == "UPDATE":
        if len(toks) < 2:
            raise UnsupportedStatement(f"bad UPDATE: {s[:80]}")
        table, after = _table_name(s, toks, 1)
        _refuse_stored_view(catalog, table, "UPDATE")
        set_idx = _clause_pos(toks[after:], "SET")
        if set_idx is None:
            raise UnsupportedStatement(
                f"UPDATE needs a SET clause: {s[:80]}"
            )
        set_tok = toks[after + set_idx]
        wh = _clause_pos(toks[after + set_idx + 1:], "WHERE")
        if wh is None:
            # Same refusal posture as DELETE-without-WHERE: an
            # unconditional UPDATE rewrites every row of the table —
            # as destructive as an unconditional DELETE, and usually a
            # dropped clause. Delta allows it; here the intent must be
            # explicit: WHERE true is the documented opt-in.
            raise UnsupportedStatement(
                "UPDATE without WHERE rewrites every row — add "
                "WHERE true to update the whole table explicitly "
                "(mirrors the DELETE-without-WHERE refusal)"
            )
        where_tok = toks[after + set_idx + 1 + wh]
        set_body = s[set_tok[2]:where_tok[1]]
        cond = s[where_tok[2]:].strip()
        set_exprs: dict[str, str] = {}
        for item in _split_top_level_commas(set_body):
            col, eq, rhs = item.partition("=")
            if not eq or not rhs.strip():
                raise UnsupportedStatement(
                    f"bad SET item {item!r} (expected col = expr)"
                )
            col_name = _ident(col)
            if col_name in set_exprs:
                # SQL engines reject duplicate SET targets; silently
                # keeping the last one would mask a typo'd statement
                # (especially with first-'=' splitting).
                raise UnsupportedStatement(
                    f"column {col_name!r} appears more than once in "
                    "the SET list — duplicate assignment targets are "
                    "rejected, as in ANSI UPDATE"
                )
            set_exprs[col_name] = rhs.strip()
        if not set_exprs:
            raise UnsupportedStatement(f"empty SET clause: {s[:80]}")
        ident_hit = sorted(
            set(set_exprs) & set(catalog.identity_columns(table))
        )
        if ident_hit:
            raise ValueError(
                f"UPDATE {table}: column(s) {ident_hit} are GENERATED "
                "ALWAYS AS IDENTITY — their values are engine-assigned "
                "and cannot be SET (Delta's rule)"
            )
        from ..operators.dml import update_where

        # allow_partition_move: SQL UPDATE has Delta semantics — a SET
        # on a partition column degrades to update_where's
        # layout-preserving whole-table rewrite instead of refusing
        return update_where(
            catalog, table, set_exprs, cond,
            partition_cols=_detect_partition_cols(catalog.path(table)),
            max_partitions=max_partitions,
            allow_partition_move=True,
        )

    if head == "DROP":
        # DROP TABLE [IF EXISTS] t → Catalog.drop;
        # DROP MATERIALIZED VIEW [IF EXISTS] v → same (the sidecar
        # definition lives in the version root and goes with it), but
        # refuses a plain table by name — mismatched DROP kinds are a
        # typo worth surfacing, as in Databricks
        is_mview = [t[0] for t in toks[1:3]] == ["MATERIALIZED", "VIEW"]
        is_view = not is_mview and len(toks) > 1 and toks[1][0] == "VIEW"
        if is_view:
            idx = 2
            if_exists = [t[0] for t in toks[2:4]] == ["IF", "EXISTS"]
            if if_exists:
                idx = 4
            vname, after = _table_name(s, toks, idx)
            if vname not in catalog.stored_views():
                if if_exists:
                    return None
                raise ValueError(
                    f"DROP VIEW: {vname} is not a stored view"
                    + (
                        " (it is a TABLE — use DROP TABLE)"
                        if catalog.exists(vname)
                        else ""
                    )
                )
            catalog.drop_stored_view(vname)
            return None
        if not is_mview and (len(toks) < 3 or toks[1][0] != "TABLE"):
            raise UnsupportedStatement(
                "expected DROP TABLE [IF EXISTS] <table> | DROP "
                "[MATERIALIZED] VIEW [IF EXISTS] <v>, got: "
                f"{s[:80]}"
            )
        idx = 3 if is_mview else 2
        if_exists = False
        if [t[0] for t in toks[idx:idx + 2]] == ["IF", "EXISTS"]:
            if_exists = True
            idx += 2
        table, after = _table_name(s, toks, idx)
        if after != len(toks):
            raise UnsupportedStatement(
                f"trailing tokens after DROP TABLE {table}: {s[:80]}"
            )
        kind = "MATERIALIZED VIEW" if is_mview else "TABLE"
        if table in catalog.stored_views():
            raise ValueError(
                f"DROP {kind}: {table} is a stored VIEW — use DROP VIEW"
            )
        if not catalog.exists(table):
            if if_exists:
                return None
            raise ValueError(
                f"DROP {kind}: {table} does not exist (use DROP "
                f"{kind} IF EXISTS to tolerate absence)"
            )
        if is_mview and "mview" not in catalog.definition(table):
            raise ValueError(
                f"DROP MATERIALIZED VIEW: {table} is a plain table, "
                "not a materialized view — use DROP TABLE"
            )
        catalog.drop(table)
        return None

    if head == "REFRESH":
        # REFRESH MATERIALIZED VIEW v → recompute from the stored
        # definition (the scheduled-job half of the DLT contract)
        if [t[0] for t in toks[1:3]] != ["MATERIALIZED", "VIEW"]:
            raise UnsupportedStatement(
                f"expected REFRESH MATERIALIZED VIEW <v>, got: {s[:80]}"
            )
        table, after = _table_name(s, toks, 3)
        if after != len(toks):
            raise UnsupportedStatement(
                "trailing tokens after REFRESH MATERIALIZED VIEW "
                f"{table}: {s[:80]}"
            )
        load_materialized_view(catalog, table).refresh()
        return None

    if head == "SHOW":
        # SHOW TABLES → warehouse listing; SHOW PARTITIONS t → one row
        # per hive leaf (Spark's own statement shape: a 'partition'
        # column of k=v[/k=v] specs) from directory metadata only;
        # SHOW CREATE TABLE t → the DDL that reproduces the table's
        # FULL declared surface (column types from the read schema,
        # GENERATED ALWAYS AS from the declarations book, PARTITIONED
        # BY from the hive layout, constraints as follow-up ALTERs,
        # an MV as its CREATE MATERIALIZED VIEW statement) — Spark's
        # own statement shape: one row, one 'createtab_stmt' column
        if len(toks) >= 2 and toks[1][0] == "COLUMNS":
            # SHOW COLUMNS IN|FROM t → Spark's own statement shape:
            # one 'col_name' row per column
            if len(toks) < 3 or toks[2][0] not in ("IN", "FROM"):
                raise UnsupportedStatement(
                    f"expected SHOW COLUMNS IN|FROM <table>: {s[:80]}"
                )
            table, after = _table_name(s, toks, 3)
            if after != len(toks):
                raise UnsupportedStatement(
                    f"SHOW COLUMNS takes only a table name: {s[:80]}"
                )
            if not catalog.exists(table):
                raise ValueError(
                    f"SHOW COLUMNS: {table} does not exist"
                )
            return catalog.spark.createDataFrame(
                [(c,) for c in catalog.read(table).columns],
                "col_name string",
            )
        if len(toks) >= 2 and toks[1][0] == "TBLPROPERTIES":
            # SHOW TBLPROPERTIES t [('key')] → (key, value) rows, or
            # the single requested key (Spark's shape; an unset
            # requested key errors by name, as Spark does)
            import re as _re

            table, after = _table_name(s, toks, 2)
            if not catalog.exists(table):
                raise ValueError(
                    f"SHOW TBLPROPERTIES: {table} does not exist"
                )
            props = catalog.table_properties(table)
            rest = s[toks[after - 1][2]:].strip() if after <= len(toks) else ""
            if rest:
                m = _re.fullmatch(r"\(\s*'([^']+)'\s*\)", rest)
                if not m:
                    raise UnsupportedStatement(
                        "expected SHOW TBLPROPERTIES <t> [('key')]: "
                        f"{s[:80]}"
                    )
                key = m.group(1)
                if key not in props:
                    raise ValueError(
                        f"SHOW TBLPROPERTIES: property {key!r} is not "
                        f"set on {table}"
                    )
                rows = [(key, props[key])]
            else:
                rows = sorted(props.items())
            return catalog.spark.createDataFrame(
                rows or [], "key string, value string"
            )
        if [t[0] for t in toks[1:3]] == ["CREATE", "TABLE"]:
            table, after = _table_name(s, toks, 3)
            if after != len(toks):
                raise UnsupportedStatement(
                    f"SHOW CREATE TABLE takes only a table name: {s[:80]}"
                )
            views = catalog.stored_views()
            if table in views:
                return catalog.spark.createDataFrame(
                    [(f"CREATE VIEW {table} AS {views[table].strip()}",)],
                    "createtab_stmt string",
                )
            if not catalog.exists(table):
                raise ValueError(
                    f"SHOW CREATE TABLE: {table} does not exist"
                )
            meta = catalog.definition(table).get("mview")
            if meta:
                pby_mv = meta.get("partition_by") or []
                stmt = (
                    f"CREATE MATERIALIZED VIEW {table}"
                    + (
                        f" PARTITIONED BY ({', '.join(pby_mv)})"
                        if pby_mv
                        else ""
                    )
                    + f" AS {meta['sql'].strip()}"
                )
                return catalog.spark.createDataFrame(
                    [(stmt,)], "createtab_stmt string"
                )
            gens = catalog.generated_columns(table)
            idents = catalog.identity_columns(table)
            ccom = catalog.column_comments(table)
            pcols = (
                _detect_partition_cols(catalog.path(table))
                or catalog.declared_partition_cols(table)
                or []
            )

            def _q(text: str) -> str:
                return "'" + text.replace("'", "''") + "'"

            fields = []
            for f in catalog.read(table).schema.fields:
                spec = f"{f.name} {f.dataType.simpleString().upper()}"
                if f.name in gens:
                    spec += f" GENERATED ALWAYS AS ({gens[f.name]})"
                elif f.name in idents:
                    ispec = idents[f.name]
                    spec += (
                        " GENERATED ALWAYS AS IDENTITY (START WITH "
                        f"{ispec['start']} INCREMENT BY {ispec['step']})"
                    )
                if f.name in ccom:
                    spec += f" COMMENT {_q(ccom[f.name])}"
                fields.append(spec)
            stmt = f"CREATE TABLE {table} ({', '.join(fields)})"
            if pcols:
                stmt += f" PARTITIONED BY ({', '.join(pcols)})"
            ccols = catalog.declared_cluster_cols(table)
            if ccols:
                stmt += f" CLUSTER BY ({', '.join(ccols)})"
            tcom = catalog.table_comment(table)
            if tcom is not None:
                stmt += f" COMMENT {_q(tcom)}"
            props = catalog.table_properties(table)
            if props:
                stmt += " TBLPROPERTIES (" + ", ".join(
                    f"{_q(k)} = {_q(v)}" for k, v in sorted(props.items())
                ) + ")"
            for cname, expr in sorted(catalog.constraints(table).items()):
                stmt += (
                    f";\nALTER TABLE {table} ADD CONSTRAINT {cname} "
                    f"CHECK ({expr})"
                )
            return catalog.spark.createDataFrame(
                [(stmt,)], "createtab_stmt string"
            )
        if len(toks) >= 2 and toks[1][0] == "PARTITIONS":
            table, after = _table_name(s, toks, 2)
            if after != len(toks):
                raise UnsupportedStatement(
                    f"SHOW PARTITIONS takes only a table name: {s[:80]}"
                )
            pcols = _detect_partition_cols(catalog.path(table))
            if not pcols:
                raise ValueError(
                    f"SHOW PARTITIONS: {table} is not a partitioned "
                    "table"
                )
            from ..catalog import _leaf_partition_files

            leaves = sorted(
                _leaf_partition_files(catalog.path(table), pcols)
            )
            rows = [
                ("/".join(f"{c}={v}" for c, v in zip(pcols, vals)),)
                for vals in leaves
            ]
            return catalog.spark.createDataFrame(
                rows, "partition string"
            )
        if [t[0] for t in toks[1:]] == ["VIEWS"]:
            # lazy views + materialized views, flagged apart
            rows = [
                (name, "VIEW") for name in sorted(catalog.stored_views())
            ]
            for t_name in catalog.list_tables():
                if "mview" in catalog.definition(t_name):
                    rows.append((t_name, "MATERIALIZED VIEW"))
            return catalog.spark.createDataFrame(
                rows, "viewName string, viewType string"
            )
        if [t[0] for t in toks[1:]] != ["TABLES"]:
            raise UnsupportedStatement(
                "only SHOW TABLES / SHOW VIEWS / SHOW PARTITIONS <t> / "
                f"SHOW CREATE TABLE <t> is supported: {s[:80]}"
            )
        rows = []
        for name in catalog.list_tables():
            cat_name, schema_name, tbl = name.split(".", 2)
            rows.append((f"{cat_name}.{schema_name}", tbl, False))
        return catalog.spark.createDataFrame(
            rows,
            "namespace string, tableName string, isTemporary boolean",
        )

    if head == "CREATE":
        # CREATE [OR REPLACE] TABLE t [PARTITIONED BY (cols)] AS
        # SELECT ... → overwrite_via_staging (Databricks CTAS), or
        # CREATE TABLE t2 [SHALLOW|DEEP] CLONE t [VERSION AS OF n]
        # → Catalog.clone. CREATE refuses an existing table (Delta
        # semantics); OR REPLACE is the versioned overwrite —
        # history/constraints ride the staging swap like every
        # catalog write.
        idx = 1
        replace = False
        if [t[0] for t in toks[idx:idx + 2]] == ["OR", "REPLACE"]:
            replace = True
            idx += 2
        if idx < len(toks) and toks[idx][0] in ("MATERIALIZED", "VIEW"):
            return _create_materialized_view(catalog, s, toks, idx, replace)
        if idx >= len(toks) or toks[idx][0] != "TABLE":
            raise UnsupportedStatement(
                "expected CREATE [OR REPLACE] TABLE <t> [PARTITIONED "
                "BY (cols)] AS SELECT ... | ... CLONE <src> | "
                "MATERIALIZED VIEW <v> AS SELECT ..., got: "
                f"{s[:80]}"
            )
        table, after = _table_name(s, toks, idx + 1)
        _refuse_stored_view(catalog, table, "CREATE TABLE")
        name_end = toks[after - 1][2]
        if s[name_end:].lstrip().startswith("("):
            return _create_table_columns(
                catalog, s, toks, table, after, name_end, replace
            )
        nxt = [t[0] for t in toks[after:after + 2]]
        if nxt[:1] == ["LIKE"]:
            # CREATE TABLE t2 LIKE t: a fresh EMPTY table with t's
            # schema, generated-column declarations, and partitioning
            # (detected layout becomes a DECLARATION on the empty
            # copy — its first write lays out the tree). Constraints
            # do not copy (Spark LIKE semantics: schema, not rules).
            src, after2 = _table_name(s, toks, after + 1)
            if after2 != len(toks):
                raise UnsupportedStatement(
                    f"trailing tokens after CREATE TABLE ... LIKE "
                    f"{src}: {s[:80]}"
                )
            if replace:
                raise UnsupportedStatement(
                    "CREATE OR REPLACE TABLE ... LIKE is not "
                    "supported — DROP the destination first"
                )
            if not catalog.exists(src):
                raise ValueError(
                    f"CREATE TABLE LIKE: source {src} does not exist"
                )
            if catalog.exists(table) or table in catalog.stored_views():
                raise ValueError(
                    f"CREATE TABLE: {table} already exists"
                )
            src_df = catalog.read(src)
            catalog.overwrite(
                catalog.spark.createDataFrame(
                    [], src_df.schema
                ).repartition(1),
                table,
            )
            pby_src = _detect_partition_cols(
                catalog.path(src)
            ) or catalog.declared_partition_cols(src)
            if pby_src:
                catalog.set_declared_partition_cols(table, pby_src)
            cby_src = catalog.declared_cluster_cols(src)
            if cby_src:
                catalog.set_declared_cluster_cols(table, cby_src)
            for col, expr in catalog.generated_columns(src).items():
                catalog.set_generated_column(table, col, expr)
            # identity declarations carry with a FRESH counter (the
            # copy is empty; CLONE is the one that inherits the
            # high-water with the data); comments and TBLPROPERTIES
            # copy like Spark's LIKE. Without this an INSERT into the
            # copy would silently NULL-fill the surrogate key.
            for col, ispec in catalog.identity_columns(src).items():
                catalog.set_identity_column(
                    table, col,
                    start=ispec["start"], step=ispec["step"],
                )
            # one book update (table comment + column comments +
            # TBLPROPERTIES together), not N schema-validating setter
            # calls
            src_def = catalog.definition(src)
            catalog.update_definition(
                table,
                **{
                    k: src_def.get(k)
                    for k in ("comment", "columns", "tblproperties")
                },
            )
            return None
        if nxt[:1] == ["CLONE"] or (
            len(nxt) == 2
            and nxt[0] in ("SHALLOW", "DEEP")
            and nxt[1] == "CLONE"
        ):
            shallow = nxt[0] != "DEEP"
            after += 1 if nxt[0] == "CLONE" else 2
            src, after = _table_name(s, toks, after)
            version = None
            tail = [t[0] for t in toks[after:]]
            if tail[:3] == ["VERSION", "AS", "OF"]:
                import re as _re

                vers = s[toks[after + 2][2]:].strip()
                if not _re.fullmatch(r"\w+", vers):
                    raise UnsupportedStatement(
                        f"CLONE VERSION AS OF needs a version number "
                        f"or label, got {vers!r}"
                    )
                version = int(vers) if vers.isdigit() else vers
            elif tail:
                raise UnsupportedStatement(
                    "expected CREATE TABLE t [SHALLOW|DEEP] CLONE src "
                    f"[VERSION AS OF n], got: {s[:80]}"
                )
            if replace:
                raise UnsupportedStatement(
                    "CREATE OR REPLACE ... CLONE is not supported — "
                    "DROP the destination first (clone refuses to "
                    "overwrite an existing table)"
                )
            catalog.clone(src, table, shallow=shallow, version=version)
            return None
        pby, after = _parse_partitioned_by(s, toks, after)
        cby, after = _parse_cluster_by(s, toks, after)
        if pby and cby:
            raise UnsupportedStatement(
                "a table is either PARTITIONED BY or CLUSTER BY, not "
                f"both: {s[:80]}"
            )
        if (
            after >= len(toks)
            or toks[after][0] != "AS"
            or after + 1 >= len(toks)
            or toks[after + 1][0] not in ("SELECT", "WITH")
        ):
            raise UnsupportedStatement(
                "CTAS needs AS SELECT ... (column-list DDL without a "
                f"query is not supported here): {s[:80]}"
            )
        replacing = catalog.exists(table)
        prev_cby = None
        if replacing:
            if not replace:
                raise ValueError(
                    f"CREATE TABLE: {table} already exists — use "
                    "CREATE OR REPLACE TABLE for a versioned overwrite"
                )
            prev_cby = catalog.declared_cluster_cols(table)
            catalog.clear_definition(table)
        from .qualify import run_sql

        select_sql = s[toks[after + 1][1]:]
        mapping = catalog.register_referenced(select_sql)
        rows = run_sql(catalog.spark, select_sql, table_mapping=mapping)
        if pby:
            missing = [c for c in pby if c not in rows.columns]
            if missing:
                raise ValueError(
                    f"PARTITIONED BY columns {missing} not in the "
                    f"CTAS select output {rows.columns}"
                )
        if cby:
            missing = [c for c in cby if c not in rows.columns]
            if missing:
                raise ValueError(
                    f"CLUSTER BY columns {missing} not in the "
                    f"CTAS select output {rows.columns}"
                )
            # declare BEFORE the write so overwrite's clustering-on-
            # write hook lays the very first data out clustered; on a
            # replace the OLD data's layout must not veto the new
            # declaration (ADVICE r13)
            catalog.set_declared_cluster_cols(
                table, cby, replacing=replacing
            )
        try:
            catalog.overwrite_via_staging(rows, table, partition_by=pby)
        except BaseException:
            # a failed CTAS must not leave the pre-write declaration
            # behind: on a fresh name a stale declaration would
            # wedge later CREATEs, and on a failed OR REPLACE the
            # SURVIVING old table keeps ITS declaration (restored, not
            # cleared — ADVICE r13), never the replacement's
            if cby or prev_cby:
                catalog.set_declared_cluster_cols(
                    table, prev_cby, replacing=True
                )
            raise
        return None

    if head == "MERGE":
        # MERGE INTO t [AS] [a] USING s|(subquery) [AS] [b] ON <cond>
        #   WHEN MATCHED [AND c] THEN UPDATE SET */sets | DELETE
        #   WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT */(cols) VALUES (..)
        #   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET sets | DELETE
        # Every clause set runs the one merge core: leaf-scoped
        # through the shared partition driver when the layout allows
        # it, else a layout-preserving staging overwrite. Returns None
        # (like INSERT OVERWRITE; Delta's MERGE metrics would cost a
        # second pass over the join here).
        into_idx = 1
        evolve = False
        if [t[0] for t in toks[1:4]] == ["WITH", "SCHEMA", "EVOLUTION"]:
            # Databricks MERGE WITH SCHEMA EVOLUTION INTO: source
            # columns the target lacks are appended as typed NULLs
            evolve = True
            into_idx = 4
        if len(toks) <= into_idx or toks[into_idx][0] != "INTO":
            raise UnsupportedStatement(
                f"expected MERGE [WITH SCHEMA EVOLUTION] INTO <table> "
                f"..., got: {s[:80]}"
            )
        table, after = _table_name(s, toks, into_idx + 1)
        _refuse_stored_view(catalog, table, "MERGE INTO")
        t_alias = table.split(".")[-1]
        if after < len(toks) and toks[after][0] == "AS":
            after += 1
            t_alias = _ident(s[toks[after][1]:toks[after][2]])
            after += 1
        elif after < len(toks) and toks[after][0] != "USING":
            t_alias = _ident(s[toks[after][1]:toks[after][2]])
            after += 1
        if after >= len(toks) or toks[after][0] != "USING":
            raise UnsupportedStatement(
                f"MERGE needs USING <source> after the target: {s[:80]}"
            )
        on_rel = _clause_pos(toks[after:], "ON")
        if on_rel is None:
            raise UnsupportedStatement(f"MERGE needs ON <cond>: {s[:80]}")
        on_tok = toks[after + on_rel]
        source_spec = s[toks[after][2]:on_tok[1]].strip()
        first_when = _clause_pos(toks[after + on_rel:], "WHEN")
        if first_when is None:
            raise UnsupportedStatement(
                f"MERGE needs at least one WHEN clause: {s[:80]}"
            )
        when_tok_idx = after + on_rel + first_when
        on_text = s[on_tok[2]:toks[when_tok_idx][1]].strip()

        source, s_alias = _merge_source_frame(catalog, source_spec)
        pairs, guard = _parse_merge_on(on_text, t_alias, s_alias)
        matched, not_matched, by_source = _parse_merge_clauses(
            s, toks, when_tok_idx, t_alias, s_alias
        )
        idents = set(catalog.identity_columns(table))
        if idents:
            # Delta's ALWAYS rule holds in MERGE too: an explicit SET
            # on an identity column, an INSERT list naming one, or a
            # star clause expanding over a source that CARRIES one
            # (SET */INSERT * copy source values verbatim — the value
            # would land without a high-water bump and a later
            # allocation could mint the same id twice). Inserted rows
            # allocate by OMITTING the column: the NULL slot the join
            # leaves is filled by _allocate_identity.
            star = any(
                getattr(cl, "update_all", False)
                for cl in (*matched, *by_source)
            ) or any(cl.insert_all for cl in not_matched)
            carried = sorted(idents & set(source.columns))
            if star and carried:
                raise ValueError(
                    f"MERGE INTO {table}: the source carries "
                    f"GENERATED ALWAYS AS IDENTITY column(s) "
                    f"{carried} into a SET */INSERT * expansion — "
                    "identity values are engine-assigned (Delta "
                    "refuses this too); drop the column from the "
                    "source or use explicit SET/INSERT lists that "
                    "omit it"
                )
            hit = sorted(
                idents
                & {
                    c
                    for cl in (*matched, *by_source)
                    for c in (cl.sets or {})
                }
            ) or sorted(
                idents
                & {
                    c
                    for cl in not_matched
                    for c in (cl.values or {})
                }
            )
            if hit:
                raise ValueError(
                    f"MERGE INTO {table}: column(s) {hit} are "
                    "GENERATED ALWAYS AS IDENTITY — values are "
                    "engine-assigned; omit them from the SET/INSERT "
                    "list (inserted rows' NULL slots are engine-"
                    "filled above the high-water mark)"
                )
        from pyspark.sql import functions as F

        from ..operators.merge import _dedup_source
        from ..operators.merge_clauses import (
            _merge,
            _merge_partitions,
            _prune_refusal,
            _ts_guard,
            merge_apply,
        )

        # The canonical upsert shape (UPDATE SET * + INSERT *, no BY
        # SOURCE, at most a `>=` guard on one column) only changes the
        # source rule: a latest-wins dedup (the reference's CDC
        # upsert) instead of the duplicate-key refusal, so it never
        # runs merge_apply's probe job.
        canonical = (
            len(matched) == 1
            and matched[0].update_all
            and matched[0].condition is None
            and len(not_matched) == 1
            and not_matched[0].insert_all
            and not_matched[0].condition is None
            and not by_source
            and all(tc == sc for tc, sc in pairs)
            and (
                guard is None
                or (guard[0] == guard[2] and guard[1] == ">=")
            )
        )
        if guard is not None:
            # the ON timestamp guard gates every MATCHED clause, with
            # null ts ≡ -infinity on both sides (fixed reference
            # semantics: stale source rows keep the target row, they
            # are NOT re-inserted)
            g = _ts_guard(guard[0], guard[2], guard[1])
            for m in matched:
                m.condition = (
                    g if m.condition is None else g & F.expr(m.condition)
                )
        merge = merge_apply
        if canonical:
            source = _dedup_source(
                source, [tc for tc, _ in pairs],
                guard[0] if guard else None, None,
            )
            merge = _merge
        pcols = _detect_partition_cols(catalog.path(table))
        # schema evolution that actually ADDS columns touches every
        # row of the table — the pruned path cannot express it, so
        # those statements take the whole-table rewrite. Otherwise a
        # clause set is leaf-scoped when the layout allows it (see
        # _prune_refusal: partition cols are same-named merge keys, no
        # DELETE, no SET on a partition column, every insert lands in
        # its source row's partition) and it has no BY SOURCE clause
        # (that touches every leaf).
        evolving = evolve and bool(
            set(source.columns) - set(catalog.read(table).columns)
        )
        if (
            pcols
            and not evolving
            and not by_source
            and _prune_refusal(pcols, pairs, matched, not_matched) is None
        ):
            hint = None
            spec = source_spec.strip()
            if not spec.startswith("("):
                # USING <catalog table>: when the source is itself a
                # partitioned table covering the target's partition
                # columns, the touched set comes from its leaf
                # DIRECTORIES — the changeset-wide distinct probe job
                # is skipped (planning.py, VERDICT r11 #9)
                src_name = spec.split()[0] if spec.split() else ""
                if catalog.exists(src_name):
                    from ..planning import (
                        touched_partitions_from_layout,
                    )

                    hint = touched_partitions_from_layout(
                        catalog, src_name, pcols, max_partitions
                    )
            _merge_partitions(
                catalog, table, source, pcols,
                lambda target_slice: merge(
                    target_slice, source, pairs, matched, not_matched
                ),
                max_partitions, touched_hint=hint,
            )
            return None
        merged = merge(
            catalog.read(table), source, pairs, matched, not_matched,
            by_source, evolve,
        )
        catalog.overwrite_via_staging(merged, table, partition_by=pcols)
        return None

    if head in ("SELECT", "WITH"):
        # Change-feed reads: table_changes('t', from[, to], 'k1,k2')
        # (Databricks table-valued function; the trailing key list is
        # an explicit extra argument here because this CDF diffs BY
        # KEY — plain parquet has no file-level row tracking to
        # reconstruct changes without one). Spans rewrite to temp
        # views over catalog.table_changes(granularity='commit').
        import re as _re_tc

        tc_re = _re_tc.compile(
            r"table_changes\s*\(\s*'([^']+)'\s*,"
            r"((?:\s*(?:\d+|'[^']*')\s*,?){1,3})\)",
            _re_tc.IGNORECASE,
        )
        tc_views = []

        def _tc_sub(m):
            import uuid as _uuid

            tname, rest = m.groups()
            args = [
                a.strip()
                for a in _re_tc.findall(r"\d+|'[^']*'", rest)
            ]
            if not (args and args[-1].startswith("'")):
                raise UnsupportedStatement(
                    "table_changes() here needs the key columns as a "
                    "final quoted argument — table_changes('t', 2, 5, "
                    "'k1,k2') — because this change feed diffs by key "
                    "(no Delta row tracking on plain parquet)"
                )
            keys = [
                k.strip()
                for k in args[-1].strip("'").split(",")
                if k.strip()
            ]
            bounds = args[:-1]
            if not 1 <= len(bounds) <= 2:
                raise UnsupportedStatement(
                    "table_changes() takes a from bound, an optional "
                    "to bound, then the key list: table_changes('t', "
                    "2[, 5], 'k1,k2') or table_changes('t', "
                    "'<ts1>'[, '<ts2>'], 'k1,k2')"
                )
            # each bound addresses by VERSION (bare integer) or by
            # TIMESTAMP (quoted — Delta's other table_changes form),
            # independently: mixed ('2026-01-02', to_version=5) is fine
            kw: dict = {}
            kw["from_timestamp" if bounds[0].startswith("'") else
               "from_version"] = (
                bounds[0].strip("'")
                if bounds[0].startswith("'")
                else int(bounds[0])
            )
            if len(bounds) == 2:
                kw["to_timestamp" if bounds[1].startswith("'") else
                   "to_version"] = (
                    bounds[1].strip("'")
                    if bounds[1].startswith("'")
                    else int(bounds[1])
                )
            view = f"__tc_{_uuid.uuid4().hex[:12]}"
            catalog.table_changes(
                tname,
                keys,
                granularity="commit",
                **kw,
            ).createOrReplaceTempView(view)
            tc_views.append(view)
            return view

        if tc_re.search(s):
            s = tc_re.sub(_tc_sub, s)
            toks = _tokens(s)
        # Read-side time travel: SELECT ... FROM t VERSION AS OF n
        # (Delta syntax). Each depth-0 "<tbl> VERSION AS OF <n>" span
        # is replaced by a temp view over catalog.read_version, then
        # the query runs through the ordinary dialect shims (QUALIFY +
        # three-part names). A VERSION AS OF inside a parenthesized
        # subquery is NOT rewritten (depth-0 scan, same pragmatic
        # boundary as the QUALIFY shim) — it then fails loudly in
        # Spark's parser rather than silently reading the live state.
        import re as _re

        spans = []  # (start, end, table, version_or_ts, kind)
        for i, (tok, _st, _en) in enumerate(toks):
            if (
                tok in ("VERSION", "TIMESTAMP")
                and [t[0] for t in toks[i + 1:i + 3]] == ["AS", "OF"]
                and i > 0
            ):
                # walk back over the dotted table name
                j = i - 1
                while (
                    j > 0
                    and s[toks[j - 1][2]:toks[j][1]].strip() == "."
                ):
                    j -= 1
                name, _after = _table_name(s, toks, j)
                if tok == "VERSION":
                    m = _re.match(r"\s*(\d+)", s[toks[i + 2][2]:])
                    if not m:
                        raise UnsupportedStatement(
                            f"VERSION AS OF needs an integer near: "
                            f"{s[toks[i][1]:toks[i][1] + 60]!r}"
                        )
                    val = int(m.group(1))
                else:
                    # TIMESTAMP AS OF '<literal>' (quoted — the token
                    # scan skips literal spans, so take it from raw)
                    m = _re.match(r"\s*'([^']*)'", s[toks[i + 2][2]:])
                    if not m:
                        raise UnsupportedStatement(
                            f"TIMESTAMP AS OF needs a quoted "
                            f"timestamp near: "
                            f"{s[toks[i][1]:toks[i][1] + 60]!r}"
                        )
                    val = m.group(1)
                spans.append(
                    (
                        toks[j][1],
                        toks[i + 2][2] + m.end(),
                        name,
                        val,
                        tok,
                    )
                )
        from .qualify import run_sql

        import uuid

        out_sql = s
        vviews = []
        for start, end, name, ver, kind in reversed(spans):
            # unique per statement: a fixed name would let concurrent
            # statements on one session cross-wire snapshots, and a
            # leftover view would serve a stale snapshot to any later
            # query that happened to reference it
            view = f"__vasof_{uuid.uuid4().hex[:12]}"
            frame = (
                catalog.read_version(name, version=ver)
                if kind == "VERSION"
                else catalog.read_timestamp(name, ver)
            )
            frame.createOrReplaceTempView(view)
            vviews.append(view)
            out_sql = out_sql[:start] + view + out_sql[end:]
        mapping = catalog.register_referenced(out_sql)
        result = run_sql(catalog.spark, out_sql, table_mapping=mapping)
        # spark.sql analyzes eagerly: the returned frame holds the
        # resolved plan, not the view names — safe to drop now
        for view in vviews + tc_views:
            catalog.spark.catalog.dropTempView(view)
        return result

    if head == "DESCRIBE":
        if len(toks) >= 2 and toks[1][0] not in ("HISTORY", "DETAIL"):
            # DESCRIBE [TABLE|EXTENDED|FORMATTED] t → schema rows in
            # Spark's own DESCRIBE TABLE shape (col_name, data_type,
            # comment; partition columns repeated under a # Partition
            # Information section). EXTENDED/FORMATTED (synonyms, as
            # in Spark) append the # Detailed Table Information
            # section: location/format/files/bytes plus this engine's
            # declared surface (constraints, generated columns,
            # declared partitioning, MV flag).
            extended = toks[1][0] in ("EXTENDED", "FORMATTED")
            idx = 2 if toks[1][0] in ("TABLE", "EXTENDED", "FORMATTED") else 1
            table, after = _table_name(s, toks, idx)
            if after != len(toks):
                raise UnsupportedStatement(
                    f"DESCRIBE TABLE takes only a table name: {s[:80]}"
                )
            if not catalog.exists(table):
                raise ValueError(
                    f"DESCRIBE TABLE: {table} does not exist"
                )
            df = catalog.read(table)
            gens = catalog.generated_columns(table)
            idents = catalog.identity_columns(table)
            ccom = catalog.column_comments(table)

            def _colnote(name: str) -> str | None:
                parts = []
                if name in gens:
                    parts.append(
                        f"GENERATED ALWAYS AS ({gens[name]})"
                    )
                elif name in idents:
                    parts.append("GENERATED ALWAYS AS IDENTITY")
                if name in ccom:
                    parts.append(ccom[name])
                return "; ".join(parts) or None

            rows = [
                (
                    f.name,
                    f.dataType.simpleString(),
                    _colnote(f.name),
                )
                for f in df.schema.fields
            ]
            pcols = _detect_partition_cols(catalog.path(table))
            if pcols:
                rows.append(("# Partition Information", "", None))
                rows.append(("# col_name", "data_type", "comment"))
                types = {f.name: f.dataType.simpleString()
                         for f in df.schema.fields}
                rows.extend((c, types[c], None) for c in pcols)
            if extended:
                import json as _json

                d = catalog.describe_detail(table)
                rows.append(("", "", None))
                rows.append(("# Detailed Table Information", "", None))
                rows.append(("Name", d["name"], None))
                rows.append(("Location", d["location"], None))
                rows.append(("Provider", d["format"], None))
                rows.append(("Num Files", str(d["num_files"]), None))
                rows.append(("Size Bytes", str(d["size_bytes"]), None))
                declared = catalog.declared_partition_cols(table)
                if declared and not pcols:
                    rows.append(
                        ("Declared Partitioning", ", ".join(declared),
                         "laid out on first write")
                    )
                cons = catalog.constraints(table)
                if cons:
                    rows.append(
                        ("Constraints",
                         _json.dumps(cons, sort_keys=True), None)
                    )
                ccols = catalog.declared_cluster_cols(table)
                if ccols:
                    rows.append(
                        ("Cluster By", ", ".join(ccols), None)
                    )
                tcom = catalog.table_comment(table)
                if tcom is not None:
                    rows.append(("Comment", tcom, None))
                props = catalog.table_properties(table)
                if props:
                    rows.append(
                        ("Table Properties",
                         _json.dumps(props, sort_keys=True), None)
                    )
                if "mview" in catalog.definition(table):
                    rows.append(
                        ("Type", "MATERIALIZED VIEW",
                         "REFRESH MATERIALIZED VIEW recomputes")
                    )
            return catalog.spark.createDataFrame(
                rows, "col_name string, data_type string, comment string"
            )
        if len(toks) < 3 or toks[1][0] not in ("HISTORY", "DETAIL"):
            raise UnsupportedStatement(
                "only DESCRIBE [TABLE] <t> | HISTORY <t> | DETAIL <t> "
                f"is supported: {s[:80]}"
            )
        table, after = _table_name(s, toks, 2)
        if after != len(toks):
            raise UnsupportedStatement(
                "DESCRIBE HISTORY|DETAIL takes only a table name "
                f"(trailing tokens ignored would mislead): {s[:80]}"
            )
        if toks[1][0] == "DETAIL":
            import json as _json

            d = catalog.describe_detail(table)
            return catalog.spark.createDataFrame(
                [
                    (
                        d["name"], d["location"], d["format"],
                        d["num_files"], d["size_bytes"],
                        d["partition_columns"],
                        d["clustering_columns"], d["num_versions"],
                        _json.dumps(d["constraints"], sort_keys=True),
                        d["num_rows"],
                    )
                ],
                "name string, location string, format string, "
                "num_files long, size_bytes long, "
                "partition_columns array<string>, "
                "clustering_columns array<string>, num_versions int, "
                "constraints string, num_rows long",
            )
        rows = catalog.history(table)
        return catalog.spark.createDataFrame(
            [
                (r["version"], r["label"], float(r["snapshot_time"]))
                for r in rows
            ],
            "version int, label string, snapshot_time double",
        )

    if head == "COMMENT":
        # COMMENT ON TABLE t IS 'text'|NULL
        # COMMENT ON COLUMN t.c IS 'text'|NULL
        # Metadata-only (version-root book): RENAME moves it, CLONE
        # copies it, CREATE OR REPLACE drops it, SHOW CREATE TABLE /
        # DESCRIBE print it.
        import re as _re

        if len(toks) < 3 or toks[1][0] != "ON" or toks[2][0] not in (
            "TABLE", "COLUMN"
        ):
            raise UnsupportedStatement(
                "expected COMMENT ON TABLE <t> IS '<text>'|NULL or "
                f"COMMENT ON COLUMN <t>.<c> IS ...: {s[:80]}"
            )
        on_column = toks[2][0] == "COLUMN"
        name, after = _table_name(s, toks, 3)
        if after >= len(toks) or toks[after][0] != "IS":
            raise UnsupportedStatement(
                f"COMMENT ON needs IS '<text>'|NULL: {s[:80]}"
            )
        rest = s[toks[after][2]:].strip()
        if rest.upper() == "NULL":
            text = None
        else:
            m = _re.fullmatch(r"'((?:[^']|'')*)'", rest)
            if not m:
                raise UnsupportedStatement(
                    "COMMENT ON: the comment must be a single quoted "
                    f"string or NULL, got {rest[:40]!r}"
                )
            text = m.group(1).replace("''", "'")
        if on_column:
            table, _dot, column = name.rpartition(".")
            if not table:
                raise UnsupportedStatement(
                    "COMMENT ON COLUMN needs <table>.<column>: "
                    f"{name!r}"
                )
            catalog.set_column_comment(table, column, text)
        else:
            catalog.set_table_comment(name, text)
        return None

    if head == "ANALYZE":
        # ANALYZE TABLE t COMPUTE STATISTICS [FOR ALL COLUMNS]
        if len(toks) < 3 or toks[1][0] != "TABLE":
            raise UnsupportedStatement(
                f"expected ANALYZE TABLE <t> COMPUTE STATISTICS: {s[:80]}"
            )
        table, after = _table_name(s, toks, 2)
        tail = [t[0] for t in toks[after:]]
        if tail not in (
            ["COMPUTE", "STATISTICS"],
            ["COMPUTE", "STATISTICS", "FOR", "ALL", "COLUMNS"],
        ):
            raise UnsupportedStatement(
                "expected ANALYZE TABLE <t> COMPUTE STATISTICS "
                f"[FOR ALL COLUMNS], got: {s[:80]}"
            )
        return catalog.analyze(table)

    if head == "INSERT":
        # INSERT INTO t [(cols)] <select|VALUES (...), ...> →
        # file-move append (existing bytes untouched);
        # INSERT OVERWRITE t <...> → staging-swap overwrite. A SELECT
        # body is ordinary Spark SQL run with every warehouse table
        # registered; a VALUES body is the quickstart literal-rows
        # spelling (VERDICT r11 ask #5). With a column list (or a
        # VALUES body), provided values cast to the live types,
        # omitted plain columns NULL-fill, omitted GENERATED columns
        # compute in-plan — CHECK constraints and generation guards
        # ride the write like every other path.
        if len(toks) < 3 or toks[1][0] not in ("INTO", "OVERWRITE"):
            raise UnsupportedStatement(
                f"expected INSERT INTO|OVERWRITE <table> <select>, "
                f"got: {s[:80]}"
            )
        overwrite = toks[1][0] == "OVERWRITE"
        idx = 2
        if toks[idx][0] == "TABLE":
            idx += 1
        table, after = _table_name(s, toks, idx)
        _refuse_stored_view(catalog, table, "INSERT")
        name_end = toks[after - 1][2]
        col_list = None
        body_from = after
        if s[name_end:].lstrip().startswith("("):
            import re as _re

            inner, paren_end = _balanced_paren_span(s, name_end)
            col_list = [c.strip() for c in inner.split(",") if c.strip()]
            bad = [c for c in col_list
                   if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c)]
            if not col_list or bad:
                raise UnsupportedStatement(
                    f"bad INSERT column list {inner!r}"
                )
            body_from = next(
                (k for k in range(after, len(toks))
                 if toks[k][1] >= paren_end),
                len(toks),
            )
        if (
            body_from >= len(toks)
            or toks[body_from][0] not in ("SELECT", "WITH", "VALUES")
        ):
            raise UnsupportedStatement(
                "INSERT needs a SELECT or VALUES body: "
                f"{s[:80]}"
            )
        is_values = toks[body_from][0] == "VALUES"
        from .qualify import run_sql

        body_sql = s[toks[body_from][1]:]
        mapping = catalog.register_referenced(body_sql)
        rows = run_sql(catalog.spark, body_sql, table_mapping=mapping)
        idents = (
            catalog.identity_columns(table)
            if catalog.exists(table)
            else {}
        )
        if idents:
            # Delta's ALWAYS rule: identity values are engine-assigned,
            # explicit ones refused. A column list naming the identity
            # column, a bare VALUES row (positional over ALL columns),
            # or a no-column-list SELECT producing it all supply one.
            supplied = sorted(
                set(idents)
                & set(col_list if col_list is not None else rows.columns)
            )
            if supplied or (col_list is None and is_values):
                raise ValueError(
                    f"INSERT INTO {table}: column(s) "
                    f"{supplied or sorted(idents)} are GENERATED ALWAYS "
                    "AS IDENTITY — values are always engine-assigned; "
                    "use a column list that omits them: INSERT INTO "
                    f"{table} ({', '.join(c for c in catalog.read(table).columns if c not in idents)}) ..."
                )
        if col_list is not None or is_values:
            if not catalog.exists(table):
                raise ValueError(
                    f"INSERT INTO {table}: table does not exist — "
                    "VALUES/column-list inserts reconcile against the "
                    "live schema (CREATE TABLE first)"
                )
            live = catalog.read(table)
            gens = catalog.generated_columns(table)
            if col_list is None:
                # bare VALUES: positional against the FULL column set
                if len(rows.columns) != len(live.columns):
                    raise ValueError(
                        f"INSERT INTO {table} VALUES: {len(rows.columns)} "
                        f"value(s) per row for {len(live.columns)} "
                        f"column(s) {live.columns} — use INSERT INTO "
                        f"{table} (col, ...) VALUES to supply a subset"
                    )
                col_list = list(live.columns)
            elif len(col_list) != len(rows.columns):
                raise ValueError(
                    f"INSERT INTO {table} column list names "
                    f"{len(col_list)} column(s) but the body produces "
                    f"{len(rows.columns)}"
                )
            unknown = [c for c in col_list if c not in live.columns]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {table}: unknown column(s) {unknown} "
                    f"(table has {live.columns})"
                )
            rows = rows.toDF(*col_list)
            sel = []
            for f in live.schema.fields:
                if f.name in col_list:
                    sel.append(
                        f"CAST({f.name} AS {f.dataType.simpleString()}) "
                        f"AS {f.name}"
                    )
                elif f.name not in gens and f.name not in idents:
                    # omitted plain column -> typed NULL (ANSI INSERT
                    # default); omitted GENERATED/IDENTITY columns are
                    # computed/allocated by the write path itself
                    sel.append(
                        f"CAST(NULL AS {f.dataType.simpleString()}) "
                        f"AS {f.name}"
                    )
            rows = rows.selectExpr(*sel)
        pcols = _detect_partition_cols(catalog.path(table)) or (
            catalog.declared_partition_cols(table)
            if catalog.exists(table)
            else None
        )
        if overwrite:
            catalog.overwrite_via_staging(rows, table, partition_by=pcols)
            return None
        return catalog.append(rows, table, partition_by=pcols)

    if head == "COPY":
        # COPY INTO t FROM '<path>' FILEFORMAT = JSON|PARQUET|CSV
        # → ingest.copy_into (file-level idempotent batch load)
        import re as _re

        if len(toks) < 2 or toks[1][0] != "INTO":
            raise UnsupportedStatement(
                f"expected COPY INTO <table> FROM '<path>' FILEFORMAT "
                f"= <fmt>, got: {s[:80]}"
            )
        table, after = _table_name(s, toks, 2)
        _refuse_stored_view(catalog, table, "COPY INTO")
        if after >= len(toks) or toks[after][0] != "FROM":
            raise UnsupportedStatement(
                f"COPY INTO needs FROM '<path>': {s[:80]}"
            )
        m = _re.match(r"\s*'([^']+)'", s[toks[after][2]:])
        if not m:
            raise UnsupportedStatement(
                f"COPY INTO FROM needs a quoted path: {s[:80]}"
            )
        path = m.group(1)
        ff_rel = _clause_pos(toks[after + 1:], "FILEFORMAT")
        if ff_rel is None:
            raise UnsupportedStatement(
                f"COPY INTO needs FILEFORMAT = <fmt>: {s[:80]}"
            )
        ff_tok = toks[after + 1 + ff_rel]
        if any(
            t[0] in ("FORMAT_OPTIONS", "COPY_OPTIONS")
            for t in toks[after:]
        ):
            raise UnsupportedStatement(
                "FORMAT_OPTIONS / COPY_OPTIONS are not supported — "
                "COPY INTO here reads with the target table's schema "
                "and is always file-idempotent"
            )
        fm = _re.match(r"\s*=\s*(\w+)", s[ff_tok[2]:])
        if not fm:
            raise UnsupportedStatement(
                f"FILEFORMAT needs = <fmt>: {s[:80]}"
            )
        fmt = fm.group(1).lower()
        if fmt not in ("json", "parquet", "csv"):
            raise UnsupportedStatement(
                f"unsupported FILEFORMAT {fmt!r} (json/parquet/csv)"
            )
        from ..ingest import copy_into

        return copy_into(catalog, table, path, file_format=fmt)

    if head == "TRUNCATE":
        if len(toks) < 3 or toks[1][0] != "TABLE":
            raise UnsupportedStatement(
                f"expected TRUNCATE TABLE <table>, got: {s[:80]}"
            )
        table, _ = _table_name(s, toks, 2)
        _refuse_stored_view(catalog, table, "TRUNCATE TABLE")
        catalog.truncate(table)
        return None

    if head == "ALTER":
        if len(toks) < 3 or toks[1][0] != "TABLE":
            raise UnsupportedStatement(
                f"expected ALTER TABLE <table> ..., got: {s[:80]}"
            )
        table, after = _table_name(s, toks, 2)
        _refuse_stored_view(catalog, table, "ALTER TABLE")
        verbs = [t[0] for t in toks[after:after + 2]]
        if verbs == ["ADD", "CONSTRAINT"]:
            if len(toks) < after + 4 or toks[after + 3][0] != "CHECK":
                raise UnsupportedStatement(
                    "expected ALTER TABLE t ADD CONSTRAINT name CHECK "
                    f"(expr), got: {s[:80]}"
                )
            name = _ident(
                s[toks[after + 2][1]:toks[after + 2][2]]
            )
            body = s[toks[after + 3][2]:].strip()
            if not (body.startswith("(") and body.endswith(")")):
                raise UnsupportedStatement(
                    f"CHECK body must be parenthesized: {body[:80]}"
                )
            catalog.add_constraint(table, name, body[1:-1].strip())
            return None
        if verbs == ["DROP", "CONSTRAINT"]:
            if len(toks) <= after + 2:
                raise UnsupportedStatement(
                    f"DROP CONSTRAINT needs a name: {s[:80]}"
                )
            name = _ident(s[toks[after + 2][1]:toks[after + 2][2]])
            catalog.drop_constraint(table, name)
            return None
        if verbs == ["CLUSTER", "BY"]:
            # ALTER TABLE t CLUSTER BY (c1, c2) | NONE — re-declare
            # (or drop) the clustering keys. Metadata-only, like
            # Databricks: existing files keep their layout until the
            # next full overwrite or OPTIMIZE re-clusters them.
            if [t[0] for t in toks[after + 2:after + 3]] == ["NONE"]:
                if after + 3 != len(toks):
                    raise UnsupportedStatement(
                        f"trailing tokens after CLUSTER BY NONE: "
                        f"{s[:80]}"
                    )
                if not catalog.exists(table):
                    raise ValueError(
                        f"ALTER TABLE CLUSTER BY NONE: {table} does "
                        "not exist"
                    )
                catalog.set_declared_cluster_cols(table, None)
                return None
            cby, nxt = _parse_cluster_by(s, toks, after)
            if cby is None or nxt != len(toks):
                raise UnsupportedStatement(
                    "expected ALTER TABLE t CLUSTER BY (c1, ...) or "
                    f"CLUSTER BY NONE: {s[:80]}"
                )
            cols = catalog.read(table).columns
            bad = [c for c in cby if c not in cols]
            if bad:
                raise ValueError(
                    f"CLUSTER BY columns {bad} not in {table} ({cols})"
                )
            catalog.set_declared_cluster_cols(table, cby)
            return None
        if verbs == ["SET", "TBLPROPERTIES"]:
            import re as _re2

            body = s[toks[after + 1][2]:].strip()
            pairs = _re2.findall(
                r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'", body
            )
            if not (
                body.startswith("(") and body.endswith(")") and pairs
            ):
                raise UnsupportedStatement(
                    "expected ALTER TABLE t SET TBLPROPERTIES "
                    f"('k' = 'v', ...): {s[:80]}"
                )
            catalog.set_table_properties(
                table,
                {
                    k.replace("''", "'"): v.replace("''", "'")
                    for k, v in pairs
                },
            )
            return None
        if verbs == ["UNSET", "TBLPROPERTIES"]:
            import re as _re2

            body = s[toks[after + 1][2]:].strip()
            if_exists = False
            m = _re2.match(r"IF\s+EXISTS\s*", body, _re2.IGNORECASE)
            if m:
                if_exists = True
                body = body[m.end():]
            keys = _re2.findall(r"'((?:[^']|'')*)'", body)
            if not (
                body.startswith("(") and body.endswith(")") and keys
            ):
                raise UnsupportedStatement(
                    "expected ALTER TABLE t UNSET TBLPROPERTIES "
                    f"[IF EXISTS] ('k', ...): {s[:80]}"
                )
            catalog.unset_table_properties(
                table,
                [k.replace("''", "'") for k in keys],
                if_exists=if_exists,
            )
            return None

        # Column DDL. Delta does these as metadata-only log entries;
        # plain parquet readers take their schema from the footers, so
        # here each is an honest VERSIONED whole-table rewrite through
        # the staging swap (time travel shows the pre-DDL schema).
        # Guards: partition columns are directory structure (refused);
        # a column referenced by a CHECK constraint cannot be dropped/
        # renamed out from under the write-time guard (refused by the
        # constraint's name — word-boundary match on the expression).
        import re as _re

        def _constraints_referencing(col: str) -> list[str]:
            return sorted(
                name
                for name, expr in catalog.constraints(table).items()
                if _re.search(rf"\b{_re.escape(col)}\b", expr)
            )

        def _rewrite(frame):
            pc = _detect_partition_cols(catalog.path(table))
            catalog.overwrite_via_staging(frame, table, partition_by=pc)

        if verbs[:1] == ["ADD"] and verbs[1:2] in (["COLUMN"], ["COLUMNS"]):
            from pyspark.sql import functions as F
            from pyspark.sql.types import StructType

            body = s[toks[after + 1][2]:].strip()
            if not (body.startswith("(") and body.endswith(")")):
                raise UnsupportedStatement(
                    "ADD COLUMNS needs a parenthesized list: "
                    f"ALTER TABLE t ADD COLUMNS (c1 INT, c2 STRING "
                    f"[GENERATED ALWAYS AS (expr)]): {s[:80]}"
                )
            # split items first: any may carry GENERATED ALWAYS AS
            # (expr) — the Delta generated-column spelling, routed to
            # set_generated_column (declared type honored via an
            # explicit cast in the stored expression, so the write-
            # path equality guard matches what DDL promised). Delta
            # itself cannot add a generated column to an existing
            # table; here the declaration backfills (VERDICT r11 #6).
            gen_re = _re.compile(
                r"\bGENERATED\s+ALWAYS\s+AS\b", _re.IGNORECASE
            )
            plain_items: list[str] = []
            gen_cols: list[tuple[str, str]] = []
            for item in _split_top_level_commas(body[1:-1]):
                gm = gen_re.search(item)
                if not gm:
                    plain_items.append(item)
                    continue
                head_m = _re.match(
                    r"([A-Za-z_][A-Za-z0-9_]*)\s+(.+)", item[:gm.start()],
                    _re.DOTALL,
                )
                if not head_m:
                    raise UnsupportedStatement(
                        f"bad generated column spec {item!r} (expected "
                        "name TYPE GENERATED ALWAYS AS (expr))"
                    )
                expr, end2 = _balanced_paren_span(item, gm.end())
                if item[end2:].strip():
                    raise UnsupportedStatement(
                        "trailing tokens after GENERATED ALWAYS AS "
                        f"(...): {item[end2:][:40]!r}"
                    )
                typ = head_m.group(2).strip()
                gen_cols.append(
                    (
                        head_m.group(1),
                        f"CAST(({expr.strip()}) AS {typ})",
                    )
                )
            if plain_items:
                try:
                    new_fields = StructType.fromDDL(
                        ", ".join(plain_items)
                    ).fields
                except Exception as e:
                    raise UnsupportedStatement(
                        f"cannot parse ADD COLUMNS list {body!r}: {e}"
                    ) from None
                df = catalog.read(table)
                dup = [f.name for f in new_fields if f.name in df.columns]
                if dup:
                    raise ValueError(
                        f"ADD COLUMNS: {dup} already exist on {table}"
                    )
                for f in new_fields:
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
                _rewrite(df)
            for col, expr in gen_cols:
                if col in catalog.read(table).columns:
                    raise ValueError(
                        f"ADD COLUMNS: {col} already exists on {table}"
                    )
                catalog.set_generated_column(table, col, expr)
            return None

        if verbs == ["ALTER", "COLUMN"] or verbs == ["CHANGE", "COLUMN"]:
            # ALTER TABLE t ALTER COLUMN c TYPE <wider-type> — Delta's
            # type-widening statement as an honest versioned rewrite.
            # Widening only (a narrowed part file would silently
            # truncate future readers); partition columns are layout;
            # constraint/generated declarations were typed against the
            # old column and must be re-declared deliberately.
            tail = toks[after + 2:]
            if len(tail) != 3 or tail[1][0] != "TYPE":
                raise UnsupportedStatement(
                    "expected ALTER TABLE t ALTER COLUMN c TYPE "
                    f"<type> (only type widening is supported): {s[:80]}"
                )
            col = _ident(s[tail[0][1]:tail[0][2]])
            new_type = s[tail[1][2]:].strip()
            df = catalog.read(table)
            if col not in df.columns:
                raise ValueError(
                    f"ALTER COLUMN: {col} not in {table} ({df.columns})"
                )
            pc = (_detect_partition_cols(catalog.path(table))
                  or catalog.declared_partition_cols(table) or [])
            if col in pc:
                raise ValueError(
                    f"ALTER COLUMN: {col} is a partition column — its "
                    "type is the directory encoding; repartition via "
                    "CREATE OR REPLACE ... PARTITIONED BY instead"
                )
            refs = _constraints_referencing(col)
            if refs:
                raise ValueError(
                    f"ALTER COLUMN {col}: CHECK constraint(s) {refs} "
                    "reference it — drop them first and re-add against "
                    "the new type"
                )
            if col in catalog.generated_columns(table):
                raise ValueError(
                    f"ALTER COLUMN {col}: it is a generated column "
                    "typed by its declaration — drop the generation "
                    "first (drop_generated_column) and re-declare"
                )
            if col in catalog.identity_columns(table):
                raise ValueError(
                    f"ALTER COLUMN {col}: it is an IDENTITY column "
                    "typed by its declaration — drop the declaration "
                    "first (drop_identity_column) and re-declare"
                )
            from pyspark.sql import functions as F
            from pyspark.sql.types import StructType

            try:
                target = StructType.fromDDL(f"x {new_type}").fields[0].dataType
            except Exception as e:
                raise UnsupportedStatement(
                    f"cannot parse ALTER COLUMN type {new_type!r}: {e}"
                ) from None
            cur = df.schema[col].dataType
            widen_rank = {
                "tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
                "float": 10, "double": 11,
            }
            c_s, t_s = cur.simpleString(), target.simpleString()
            ok = (
                c_s in widen_rank
                and t_s in widen_rank
                and widen_rank[t_s] > widen_rank[c_s]
                and (c_s in ("float", "double")) == (t_s in ("float",
                                                             "double"))
            )
            if not ok:
                raise ValueError(
                    f"ALTER COLUMN {col}: {c_s} -> {t_s} is not a "
                    "supported widening (integer chain byte<smallint<"
                    "int<bigint, or float->double); narrowing or "
                    "cross-family casts would corrupt existing rows — "
                    "use a new column + UPDATE"
                )
            _rewrite(
                df.select(
                    *(
                        F.col(c).cast(target).alias(c) if c == col
                        else F.col(c)
                        for c in df.columns
                    )
                )
            )
            return None

        if verbs[:1] == ["DROP"] and verbs[1:2] in (["COLUMN"], ["COLUMNS"]):
            body = s[toks[after + 1][2]:].strip()
            if body.startswith("(") and body.endswith(")"):
                cols = [c.strip() for c in body[1:-1].split(",") if c.strip()]
            else:
                cols = [c.strip() for c in body.split(",") if c.strip()]
            if not cols:
                raise UnsupportedStatement(
                    f"DROP COLUMN needs at least one column: {s[:80]}"
                )
            df = catalog.read(table)
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"DROP COLUMN: {missing} not in {table} "
                    f"({df.columns})"
                )
            pc = (_detect_partition_cols(catalog.path(table))
                  or catalog.declared_partition_cols(table) or [])
            part_hit = sorted(set(cols) & set(pc))
            if part_hit:
                raise ValueError(
                    f"DROP COLUMN: {part_hit} are partition columns — "
                    "the hive layout is built from them; repartition "
                    "via CREATE OR REPLACE ... PARTITIONED BY instead"
                )
            for c in cols:
                refs = _constraints_referencing(c)
                if refs:
                    raise ValueError(
                        f"DROP COLUMN {c}: CHECK constraint(s) {refs} "
                        "reference it — drop them first (ALTER TABLE "
                        "... DROP CONSTRAINT)"
                    )
            if len(cols) == len(df.columns):
                raise ValueError(
                    "DROP COLUMN would remove every column — use DROP "
                    "TABLE"
                )
            # a dropped identity/generated column takes its declaration
            # with it FIRST — a surviving book entry would re-add the
            # column during the rewrite below (_with_generated computes
            # missing declared columns), silently undoing the DROP.
            # The pre-drop books are captured and RESTORED if the
            # rewrite fails: a failed DROP COLUMN must not strip a
            # declaration (and its never-reuse high-water) from an
            # unchanged table.
            ident_book = catalog.identity_columns(table)
            gen_book = catalog.generated_columns(table)
            for c in cols:
                if c in ident_book:
                    catalog.drop_identity_column(table, c)
                if c in gen_book:
                    catalog.drop_generated_column(table, c)
            try:
                _rewrite(df.drop(*cols))
            except BaseException:
                if any(c in ident_book for c in cols):
                    catalog.update_definition(table, identity=ident_book)
                for c in cols:
                    if c in gen_book:
                        catalog.set_generated_column(
                            table, c, gen_book[c]
                        )
                raise
            # a dropped column's comment dies with it — a ghost entry
            # would silently attach to a future same-named column.
            # Edited through the definition directly: the public
            # set_column_comment validates against the LIVE schema,
            # which no longer has this column.
            cc = catalog.column_comments(table)
            if any(c in cc for c in cols):
                for c in cols:
                    cc.pop(c, None)
                catalog.update_definition(table, columns=cc)
            return None

        if verbs == ["RENAME", "TO"]:
            dst, after2 = _table_name(s, toks, after + 2)
            if after2 != len(toks):
                raise UnsupportedStatement(
                    "trailing tokens after ALTER TABLE ... RENAME TO "
                    f"{dst}: {s[:80]}"
                )
            catalog.rename_table(table, dst)
            return None

        if verbs == ["RENAME", "COLUMN"]:
            tail = [t[0] for t in toks[after + 2:]]
            if len(tail) != 3 or tail[1] != "TO":
                raise UnsupportedStatement(
                    "expected ALTER TABLE t RENAME COLUMN a TO b: "
                    f"{s[:80]}"
                )
            old = _ident(s[toks[after + 2][1]:toks[after + 2][2]])
            new = _ident(s[toks[after + 4][1]:toks[after + 4][2]])
            df = catalog.read(table)
            if old not in df.columns:
                raise ValueError(
                    f"RENAME COLUMN: {old} not in {table} ({df.columns})"
                )
            if new in df.columns:
                raise ValueError(
                    f"RENAME COLUMN: {new} already exists on {table}"
                )
            pc = (_detect_partition_cols(catalog.path(table))
                  or catalog.declared_partition_cols(table) or [])
            if old in pc:
                raise ValueError(
                    f"RENAME COLUMN: {old} is a partition column — "
                    "repartition via CREATE OR REPLACE ... PARTITIONED "
                    "BY instead"
                )
            refs = _constraints_referencing(old)
            if refs:
                raise ValueError(
                    f"RENAME COLUMN {old}: CHECK constraint(s) {refs} "
                    "reference it — drop and re-add them with the new "
                    "name"
                )
            if old in catalog.identity_columns(table):
                raise ValueError(
                    f"RENAME COLUMN {old}: it is an IDENTITY column — "
                    "the allocation book is keyed by name; drop the "
                    "declaration first (drop_identity_column)"
                )
            _rewrite(df.withColumnRenamed(old, new))
            # the comment book is keyed by name: carry it to the new
            # name (a stale old-name entry would vanish from DESCRIBE
            # and later resurrect on an unrelated same-named column).
            # Definition-level edit — the old name is gone from the
            # live schema the public setter validates against.
            cc = catalog.column_comments(table)
            if old in cc:
                cc[new] = cc.pop(old)
                catalog.update_definition(table, columns=cc)
            return None

        raise UnsupportedStatement(
            "supported under ALTER TABLE: ADD/DROP CONSTRAINT, ADD "
            "COLUMNS (... [GENERATED ALWAYS AS (expr)]), DROP "
            "COLUMN(S), RENAME COLUMN a TO b, ALTER COLUMN c TYPE "
            f"<wider-type>: {s[:80]}"
        )

    if head == "RESTORE":
        # RESTORE TABLE t TO VERSION|TIMESTAMP AS OF ... (Delta syntax)
        idx = 2 if len(toks) > 1 and toks[1][0] == "TABLE" else 1
        table, after = _table_name(s, toks, idx)
        _refuse_stored_view(catalog, table, "RESTORE TABLE")
        tail = [t[0] for t in toks[after:]]
        if tail[:4] == ["TO", "TIMESTAMP", "AS", "OF"]:
            import re as _re

            m = _re.match(r"\s*'([^']*)'\s*$", s[toks[after + 3][2]:])
            if not m:
                raise UnsupportedStatement(
                    "RESTORE ... TO TIMESTAMP AS OF needs one quoted "
                    f"timestamp: {s[:80]}"
                )
            label = catalog.version_at_timestamp(table, m.group(1))
            if label is None:
                return None  # already the live state — no-op
            return catalog.restore(table, version=label)
        if tail[:4] != ["TO", "VERSION", "AS", "OF"]:
            raise UnsupportedStatement(
                "expected RESTORE TABLE t TO VERSION|TIMESTAMP AS OF "
                f"..., got: {s[:80]}"
            )
        # the version is a numeric literal, which the word-token scan
        # does not yield — take it from the raw tail after OF
        vers = s[toks[after + 3][2]:].strip()
        if not vers.isdigit():
            raise UnsupportedStatement(
                f"VERSION AS OF needs an integer, got {vers!r}"
            )
        return catalog.restore(table, version=int(vers))

    if head == "OPTIMIZE":
        # OPTIMIZE t [WHERE <partition pred>] [ZORDER BY (a, b)]
        # → maintenance.optimize_table; the WHERE form confines the
        # rewrite to matching leaves (Delta partition-predicate
        # OPTIMIZE), evaluated from directory metadata only.
        table, after = _table_name(s, toks, 1)
        _refuse_stored_view(catalog, table, "OPTIMIZE")
        if after < len(toks) and toks[after][0] == "FULL":
            # OPTIMIZE t FULL (Databricks: force-recluster ALL data of
            # a CLUSTER BY table). Plain OPTIMIZE on a clustered table
            # is INCREMENTAL (only overlapping files rewrite); FULL
            # forces the whole-table rewrite. Like Databricks, FULL is
            # only accepted on a clustered table and combines with no
            # other clause.
            if not catalog.declared_cluster_cols(table):
                raise ValueError(
                    f"OPTIMIZE {table} FULL: the table declares no "
                    "CLUSTER BY — FULL re-clusters a clustered table"
                )
            if after + 1 != len(toks):
                raise UnsupportedStatement(
                    f"OPTIMIZE <table> FULL takes no other clause: "
                    f"{s[:80]}"
                )
            from ..maintenance import optimize_table

            return optimize_table(catalog, table, full=True)
        where = None
        wh_rel = _clause_pos(toks[after:], "WHERE")
        z_rel = _clause_pos(toks[after:], "ZORDER", "BY")
        if wh_rel is not None:
            if wh_rel != 0:
                raise UnsupportedStatement(
                    "expected OPTIMIZE <table> [WHERE pred] [ZORDER "
                    f"BY (cols)], got: {s[:80]}"
                )
            wh_tok = toks[after + wh_rel]
            end = toks[after + z_rel][1] if z_rel is not None else len(s)
            where = s[wh_tok[2]:end].strip()
            if not where:
                raise UnsupportedStatement(
                    f"empty WHERE predicate in OPTIMIZE: {s[:80]}"
                )
        zorder = None
        if z_rel is not None:
            if wh_rel is None and z_rel != 0:
                raise UnsupportedStatement(
                    "expected OPTIMIZE <table> [WHERE pred] [ZORDER "
                    f"BY (cols)], got: {s[:80]}"
                )
            body = s[toks[after + z_rel + 1][2]:].strip()
            if not (body.startswith("(") and body.endswith(")")):
                raise UnsupportedStatement(
                    f"ZORDER BY needs a parenthesized column list: "
                    f"{s[:80]}"
                )
            zorder = [
                _ident(c) for c in body[1:-1].split(",") if c.strip()
            ]
            if not zorder:
                raise UnsupportedStatement(
                    f"empty ZORDER BY column list: {s[:80]}"
                )
        elif wh_rel is None and after != len(toks):
            raise UnsupportedStatement(
                "expected OPTIMIZE <table> [WHERE pred] [ZORDER BY "
                f"(cols)], got: {s[:80]}"
            )
        from ..maintenance import optimize_table

        return optimize_table(
            catalog, table, zorder_by=zorder, where=where
        )

    if head == "VACUUM":
        table, after = _table_name(s, toks, 1)
        tail = [t[0] for t in toks[after:]]
        retain = None
        if tail[:1] == ["RETAIN"]:
            # the hour count is a numeric literal between the two
            # word tokens (the word scan yields no number tokens) —
            # a non-numeric "count" shows up as an extra word token
            import re as _re

            hrs_rel = _clause_pos(toks[after + 1:], "HOURS")
            if hrs_rel is None:
                raise UnsupportedStatement(
                    f"expected VACUUM t RETAIN <n> HOURS: {s[:80]}"
                )
            raw = s[toks[after][2]:toks[after + 1 + hrs_rel][1]].strip()
            if not _re.fullmatch(r"\d+(\.\d+)?", raw):
                raise UnsupportedStatement(
                    f"RETAIN needs a number of hours, got {raw!r}"
                )
            retain = float(raw)
            tail = tail[2 + hrs_rel:]
        if tail == ["DRY", "RUN"]:
            return catalog.vacuum(
                table, retain_hours=retain, dry_run=True
            )
        if tail:
            raise UnsupportedStatement(
                "only VACUUM <table> [RETAIN n HOURS] [DRY RUN] is "
                f"supported: {s[:80]}"
            )
        return catalog.vacuum(table, retain_hours=retain)

    raise UnsupportedStatement(
        f"unsupported statement head {head!r} — supported: DELETE, "
        "UPDATE, MERGE INTO, INSERT, CREATE TABLE (CTAS/CLONE), DROP "
        "TABLE, SHOW TABLES, TRUNCATE, ALTER TABLE ADD/DROP "
        "CONSTRAINT, RESTORE, VACUUM, OPTIMIZE, ANALYZE, DESCRIBE "
        "(SELECT queries go through spark.sql / plans.run_sql)"
    )


def run_table_script(catalog, script: str, max_partitions: int = 10_000):
    """Run a multi-statement SQL script (statements separated by
    depth-0 semicolons — literal/comment-aware, the same scanner
    discipline as everything here) through :func:`run_table_sql`,
    sequentially. Returns the list of per-statement return values.

    This is the migration surface for a Databricks notebook cell that
    issues several statements in one string. Fail-fast: the first
    statement outside the grammar (or failing) raises, leaving earlier
    statements' effects in place — exactly the semantics the same
    script has on Databricks (no cross-statement transaction exists
    there either).
    """
    from .qualify import _depth0_semicolon

    stmts = []
    pos = 0
    while pos < len(script):
        semi = _depth0_semicolon(script, pos)
        if semi is None:
            stmts.append(script[pos:])
            break
        stmts.append(script[pos:semi])
        pos = semi + 1
    out = []
    for stmt in stmts:
        # strip full-line comments so a trailing commented statement
        # doesn't read as an empty-statement error
        body = "\n".join(
            line
            for line in stmt.splitlines()
            if not line.lstrip().startswith("--")
        ).strip()
        if not body:
            continue
        out.append(run_table_sql(catalog, body, max_partitions))
    return out
