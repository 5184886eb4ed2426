"""Generalized clause-based MERGE: the full Delta ``MERGE INTO``
surface beyond the CDC upsert.

``merge_upsert`` (operators/merge.py) is the reference's actual merge
shape — updateAll + insertAll with a timestamp guard (reference
lib/ingestors.py:122-126). Delta's SQL ``MERGE INTO`` is wider: any
number of ``WHEN MATCHED [AND cond] THEN UPDATE SET .../DELETE``,
``WHEN NOT MATCHED [AND cond] THEN INSERT ...`` and ``WHEN NOT MATCHED
BY SOURCE [AND cond] THEN UPDATE SET .../DELETE`` clauses, first
matching clause wins. **[extension]** This module executes that
general clause set as ONE full-outer DataFrame join — the same plan
shape (and the same reserved-name discipline) as ``merge_upsert``, so
Catalyst sees a single equi-join + codegen'd conditional projection,
never a per-clause pass.

Scale: identical to merge_upsert — both sides shuffle on the join
keys once; AQE broadcasts a small changeset side. The action cascade
and every SET/VALUES expression are ordinary Column expressions
inside whole-stage codegen. Callers persist the returned frame via
Catalog.overwrite_via_staging (the table reads its own files) — the
SQL front-end (plans/table_sql.py MERGE INTO) routes the canonical
upsert shape onto merge_upsert_partitioned instead so the pruned
path keeps serving the common case.

Clause conditions / expressions reference the TARGET side by plain
column name and the SOURCE side by ``__s_<col>`` — the SQL front-end
rewrites ``alias.col`` references into these before calling; Python
callers can pass Columns built from the same names.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MatchedClause",
    "NotMatchedClause",
    "NotMatchedBySourceClause",
    "merge_apply",
    "merge_apply_partitioned",
    "nm_partition_violations",
    "SOURCE_PREFIX",
]

SOURCE_PREFIX = "__s_"

_KEEP = -1
_DROP = -2


def _cond_col(cond) -> Column:
    """Clause condition with SQL ternary collapsed: NULL → False (a
    clause whose condition is unknown does not fire — ANSI MERGE)."""
    if cond is None:
        return F.lit(True)
    c = F.expr(cond) if isinstance(cond, str) else cond
    return F.coalesce(c, F.lit(False))


def _exprs(d: dict) -> dict[str, Column]:
    return {
        c: (F.expr(e) if isinstance(e, str) else e) for c, e in d.items()
    }


@dataclass
class MatchedClause:
    """``WHEN MATCHED [AND condition] THEN UPDATE SET sets | DELETE``.
    ``sets=None`` means DELETE; ``sets={}`` is refused (an UPDATE that
    sets nothing); ``update_all=True`` takes every column from the
    source row (``UPDATE SET *``)."""

    condition: object | None = None
    sets: dict | None = field(default_factory=dict)
    update_all: bool = False


@dataclass
class NotMatchedClause:
    """``WHEN NOT MATCHED [AND condition] THEN INSERT ...``.
    ``insert_all=True`` is ``INSERT *``; otherwise ``values`` maps
    target columns to expressions over the source side — unlisted
    target columns become typed NULLs."""

    condition: object | None = None
    values: dict = field(default_factory=dict)
    insert_all: bool = False


@dataclass
class NotMatchedBySourceClause:
    """``WHEN NOT MATCHED BY SOURCE [AND condition] THEN
    UPDATE SET sets | DELETE`` — conditions and SETs may reference
    only target columns (there is no source row)."""

    condition: object | None = None
    sets: dict | None = field(default_factory=dict)


def merge_apply(
    target: DataFrame,
    source: DataFrame,
    on: list[tuple[str, str]] | list[str],
    matched: list[MatchedClause] | None = None,
    not_matched: list[NotMatchedClause] | None = None,
    not_matched_by_source: list[NotMatchedBySourceClause] | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """Execute a general MERGE clause set; returns the merged frame
    (target schema). ``on`` is the equi-join key list — either shared
    column names or explicit ``(target_col, source_col)`` pairs.

    Semantics (Delta MERGE INTO):

    - a target row with a source match runs the ``matched`` cascade:
      first clause whose condition holds fires (UPDATE SET evaluates
      every expression against the PRE-update row; DELETE drops the
      row); no clause firing keeps the row unchanged;
    - a source row with no target match runs ``not_matched``; no
      clause firing means the row is NOT inserted;
    - a target row with no source match runs
      ``not_matched_by_source``; default keeps the row.

    Like Delta, a source whose join keys are duplicated is refused
    (two source rows updating one target row is nondeterministic) —
    slightly stricter than Delta, which only errors when a duplicate
    actually matches: the probe here is one partial-agg over the
    changeset, not a join. Pre-dedup with ``dedup_latest`` (or use
    merge_upsert, which does it for you) when the feed carries
    replays.

    NULL join keys use eqNullSafe — a NULL key matches a NULL key
    (merge_upsert's convention), never silently drops.

    ``evolve_schema=True`` (Delta ``MERGE WITH SCHEMA EVOLUTION``
    analogue, merge_upsert's additive rule): source columns the
    target lacks are appended to the target as typed NULLs before the
    clauses run, so ``UPDATE SET *`` / ``INSERT *`` carry the new
    columns and pre-existing rows read NULL for them. Source MISSING
    a target column is still fine here (unlike merge_upsert) because
    explicit clause lists make partial updates well-defined — only
    ``SET *`` / ``INSERT *`` demand identical sets.
    """
    matched = matched or []
    not_matched = not_matched or []
    not_matched_by_source = not_matched_by_source or []
    pairs = [
        (k, k) if isinstance(k, str) else (k[0], k[1]) for k in on
    ]
    if not pairs:
        raise ValueError("merge_apply: ON needs at least one key pair")
    if evolve_schema:
        for f_ in source.schema.fields:
            if f_.name not in target.columns:
                target = target.withColumn(
                    f_.name, F.lit(None).cast(f_.dataType)
                )

    cols = target.columns
    reserved = {"__t_present__", "__s_present__", "__act__"}
    clash = sorted(
        c
        for c in set(cols) | set(source.columns)
        if c in reserved or c.startswith(SOURCE_PREFIX)
    )
    if clash:
        raise ValueError(
            f"merge_apply: column(s) {clash} collide with reserved "
            "staging names; rename them before merging."
        )
    for m in matched:
        if m.sets is not None and not m.sets and not m.update_all:
            raise ValueError(
                "MatchedClause with empty sets updates nothing — use "
                "sets=None for DELETE or update_all=True for SET *"
            )
    s_keys = [p[1] for p in pairs]
    dup = (
        source.groupBy(*s_keys)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .where(F.col("__n__") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge_apply: source has duplicate join keys {s_keys} "
            f"(e.g. {tuple(dup[0][k] for k in s_keys)!r}) — two source "
            "rows per target row is nondeterministic (Delta raises "
            "too); dedup the changeset first (dedup_latest)"
        )

    t = target.withColumn("__t_present__", F.lit(True))
    s = source.select(
        *[F.col(c).alias(f"{SOURCE_PREFIX}{c}") for c in source.columns]
    ).withColumn("__s_present__", F.lit(True))
    jc = None
    for tc, sc in pairs:
        c = F.col(tc).eqNullSafe(F.col(f"{SOURCE_PREFIX}{sc}"))
        jc = c if jc is None else (jc & c)
    joined = t.join(s, jc, "full_outer")
    t_here = F.col("__t_present__").isNotNull()
    s_here = F.col("__s_present__").isNotNull()

    # Global action table: each firing clause gets an index; the value
    # projection below switches on it. KEEP keeps target values, DROP
    # filters the row out.
    actions: list[dict[str, Column] | None] = []  # None → drop

    def _cascade(clauses, default: int, to_action) -> Column:
        out = F.lit(default)
        # build right-to-left so the FIRST clause wins the cascade
        for cl in reversed(list(clauses)):
            idx = to_action(cl)
            out = F.when(_cond_col(cl.condition), F.lit(idx)).otherwise(out)
        return out

    def _matched_action(cl: MatchedClause) -> int:
        if cl.sets is None:
            actions.append(None)
        elif cl.update_all:
            if set(cols) != set(source.columns):
                raise ValueError(
                    "UPDATE SET * requires identical target/source "
                    f"columns; target={cols} source={source.columns}"
                )
            actions.append(
                {c: F.col(f"{SOURCE_PREFIX}{c}") for c in cols}
            )
        else:
            unknown = [c for c in cl.sets if c not in cols]
            if unknown:
                raise ValueError(
                    f"UPDATE SET columns {unknown} not in target "
                    f"{cols} (MERGE UPDATE cannot add columns)"
                )
            actions.append(_exprs(cl.sets))
        return len(actions) - 1

    def _nm_action(cl: NotMatchedClause) -> int:
        if cl.insert_all:
            if set(cols) != set(source.columns):
                raise ValueError(
                    "INSERT * requires identical target/source "
                    f"columns; target={cols} source={source.columns}"
                )
            actions.append(
                {c: F.col(f"{SOURCE_PREFIX}{c}") for c in cols}
            )
        else:
            unknown = [c for c in cl.values if c not in cols]
            if unknown:
                raise ValueError(
                    f"INSERT columns {unknown} not in target {cols}"
                )
            vals = _exprs(cl.values)
            full = {}
            for f_ in target.schema.fields:
                full[f_.name] = vals.get(
                    f_.name, F.lit(None).cast(f_.dataType)
                )
            actions.append(full)
        return len(actions) - 1

    def _nmbs_action(cl: NotMatchedBySourceClause) -> int:
        if cl.sets is None:
            actions.append(None)
        else:
            unknown = [c for c in cl.sets if c not in cols]
            if unknown:
                raise ValueError(
                    f"UPDATE SET columns {unknown} not in target {cols}"
                )
            actions.append(_exprs(cl.sets))
        return len(actions) - 1

    act = (
        F.when(
            t_here & s_here, _cascade(matched, _KEEP, _matched_action)
        )
        .when(s_here, _cascade(not_matched, _DROP, _nm_action))
        .otherwise(
            _cascade(not_matched_by_source, _KEEP, _nmbs_action)
        )
    )
    staged = joined.withColumn("__act__", act).where(
        F.col("__act__") != F.lit(_DROP)
    )
    drop_idx = [i for i, a in enumerate(actions) if a is None]
    for i in drop_idx:
        staged = staged.where(F.col("__act__") != F.lit(i))

    picked = []
    for c in cols:
        expr = F.col(c)
        for i, a in enumerate(actions):
            if a is not None and c in a:
                expr = F.when(F.col("__act__") == F.lit(i), a[c]).otherwise(
                    expr
                )
        picked.append(expr.alias(c))
    return staged.select(*picked)


def _column_names_exactly(v: Column, want: str) -> bool:
    """True iff ``v`` is a bare reference to the column ``want``.

    Compared structurally — ``str(v) == str(F.col(want))`` holds under
    any repr format because both sides render through the SAME PySpark
    version — with the JVM expression string as a fallback for Columns
    built another way (e.g. ``df[want]``, whose repr can embed a plan
    id). Never repr-literal matching: a PySpark repr format change must
    not fail a genuinely safe assignment (ADVICE r12)."""
    if str(v) == str(F.col(want)):
        return True
    jc = getattr(v, "_jc", None)
    if jc is not None:
        try:
            s = jc.toString()
        except Exception:
            return False
        # unresolved attribute prints 'name; resolved prints name[#id]
        return s in (want, f"'{want}") or bool(
            re.fullmatch(re.escape(want) + r"#\d+[A-Za-z]*", s)
        )
    return False


def nm_partition_violations(
    not_matched: list[NotMatchedClause], pcols: list[str]
) -> list[str]:
    """Reasons (empty list = safe) why a ``WHEN NOT MATCHED`` clause
    set could insert a row OUTSIDE the changeset's probed partition
    set. The pruned merge path stages only the probed leaves and
    ``overwrite_partitions`` filters staging by the probed partition
    predicate — an inserted row whose partition column is NULL-filled
    (omitted from the VALUES list) or assigned anything other than the
    source's same-named column lands outside that predicate and would
    VANISH silently. Safe forms: ``insert_all`` (partition value is
    the source's same-named column by construction) or an explicit
    assignment of exactly ``__s_<pcol>``.
    """
    bad: list[str] = []
    for i, cl in enumerate(not_matched):
        if cl.insert_all:
            continue
        for pc in pcols:
            v = cl.values.get(pc)
            want = f"{SOURCE_PREFIX}{pc}"
            if isinstance(v, str) and v.strip() == want:
                continue
            if isinstance(v, Column) and _column_names_exactly(v, want):
                continue
            got = "nothing (NULL-filled)" if v is None else repr(v)
            bad.append(
                f"NOT MATCHED clause #{i + 1} assigns partition "
                f"column {pc!r} {got}, not the source's {want!r}"
            )
    return bad


def merge_apply_partitioned(
    catalog,
    table: str,
    source: DataFrame,
    on: list[tuple[str, str]] | list[str],
    matched: list[MatchedClause] | None = None,
    not_matched: list[NotMatchedClause] | None = None,
    max_partitions: int = 10_000,
    touched_hint: list | None = None,
) -> list:
    """Partition-pruned execution of a general MERGE clause set
    against a hive-partitioned CATALOG table — the 100 TB path for
    clause sets beyond the canonical upsert (which
    merge_upsert_partitioned already prunes). Returns the touched
    partition tuples.

    Preconditions (checked, refused by name — the SQL front-end falls
    back to the whole-table staging rewrite instead of refusing):

    - every partition column appears among the TARGET key columns and
      joins a SAME-NAMED source column (so a matched row's partition
      equals its source row's partition and an inserted row lands in
      a source-known partition — pruning is sound);
    - no clause DELETEs (a matched DELETE could empty a leaf, which
      the leaf-swap contract cannot express — that case needs
      delete_where's emptied-leaf handling or the whole-table path);
    - no ``not_matched_by_source`` clauses (they touch rows in EVERY
      partition — nothing to prune);
    - no clause SETs a partition column (rows must not move between
      leaves).

    Shape: one bounded distinct-partitions probe over the changeset
    (LIMIT max+1 caps the driver transfer — merge_upsert_partitioned's
    contract), a partition-pruned read of only the touched leaves,
    ONE merge_apply join over that slice, and a leaf-directory swap
    whose commit retains the pre-state as a hardlink snapshot (failed
    staging commits nothing). A changeset touching 3 of
    3,000 partitions reads and rewrites ~0.1% of the table.

    ``touched_hint`` (r12, VERDICT #9): a caller that can derive the
    touched set WITHOUT a job — planning.py's
    ``touched_partitions_from_layout`` reads it from a partitioned
    source table's leaf directories — passes it here and the probe is
    skipped entirely. The hint must be a SUPERSET of the changeset's
    actual partitions: extra leaves are read and rewritten unchanged
    (safe, bounded by max_partitions); a MISSING leaf would drop that
    leaf's changes, which is why only metadata-sound derivations may
    hint.
    """
    from ..catalog import (
        _check_no_null_partition_values,
        detect_partition_cols,
        partition_predicate,
    )

    matched = matched or []
    not_matched = not_matched or []
    pairs = [
        (k, k) if isinstance(k, str) else (k[0], k[1]) for k in on
    ]
    pcols = detect_partition_cols(catalog.path(table))
    if not pcols:
        raise ValueError(
            f"merge_apply_partitioned: {table} has no detectable hive "
            "partition layout"
        )
    same_named = {tc for tc, sc in pairs if tc == sc}
    missing = [c for c in pcols if c not in same_named]
    if missing:
        raise ValueError(
            "merge_apply_partitioned: every partition column must be "
            f"a same-named merge key; {missing} are not (keys: "
            f"{pairs})"
        )
    if any(m.sets is None for m in matched):
        raise ValueError(
            "merge_apply_partitioned: DELETE clauses can empty a "
            "leaf, which the leaf swap cannot express — use the "
            "whole-table path (or delete_where)"
        )
    set_cols = set()
    for m in matched:
        if m.sets:
            set_cols |= set(m.sets)
    moved = sorted(set_cols & set(pcols))
    if moved:
        raise ValueError(
            f"merge_apply_partitioned: UPDATE SET assigns partition "
            f"column(s) {moved} — rows may not move between leaves; "
            "use the whole-table path"
        )
    nm_bad = nm_partition_violations(not_matched, pcols)
    if nm_bad:
        raise ValueError(
            "merge_apply_partitioned: inserted rows must land in "
            "their source row's partition (INSERT * or VALUES "
            f"assigning each partition column exactly "
            f"{SOURCE_PREFIX}<col>) — otherwise they fall outside "
            "the probed leaf set and are silently dropped by the "
            "partition swap; use the whole-table path. Violations: "
            + "; ".join(nm_bad)
        )

    if touched_hint is not None:
        probe = [tuple(t) for t in touched_hint]
    else:
        probe = [
            tuple(r)
            for r in source.select(*pcols)
            .distinct()
            .limit(max_partitions + 1)
            .collect()
        ]
    if len(probe) > max_partitions:
        raise ValueError(
            f"merge_apply_partitioned: source has more than "
            f"{max_partitions} distinct values of {pcols!r} — pick "
            "the table's real partition columns or raise "
            "max_partitions"
        )
    touched = probe
    _check_no_null_partition_values(pcols, touched)
    if not touched:
        return []
    target_slice = catalog.read(table).filter(
        partition_predicate(pcols, touched)
    )
    merged = merge_apply(
        target_slice, source, pairs,
        matched=matched, not_matched=not_matched,
    )
    catalog.overwrite_partitions(merged, table, pcols, touched)
    return touched
