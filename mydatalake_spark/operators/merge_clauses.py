"""The one MERGE engine: Delta's ``MERGE INTO`` clause set executed
as ONE full-outer DataFrame join.

Delta's ``MERGE INTO`` takes any number of ``WHEN MATCHED [AND cond]
THEN UPDATE SET .../DELETE``, ``WHEN NOT MATCHED [AND cond] THEN INSERT
...`` and ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET
.../DELETE`` clauses, first matching clause wins. **[extension]**
:func:`_merge` is the single join core every merge in the library
runs: one null-safe equi-join on the keys, a codegen'd first-wins
action cascade and one conditional projection — Catalyst sees a
single join, never a per-clause pass. Two wrappers decide what the
source must satisfy:

- :func:`merge_apply` refuses a source with duplicate join keys (one
  bounded probe job), as Delta does;
- ``merge_upsert`` (operators/merge.py), the reference's CDC upsert
  (updateAll + insertAll with a timestamp guard, reference
  lib/ingestors.py:122-126), dedups the source latest-wins instead,
  so it never probes, and runs the core with the clause set
  ``UPDATE SET * WHEN <ts guard>`` + ``INSERT *`` (+ BY SOURCE DELETE
  for full sync). The SQL front-end's MERGE INTO picks between these
  two source rules and nothing else.

:func:`_merge_partitions` is the one partition-scoped driver (bounded
touched-partition probe or a layout hint, partition-pruned slice read,
leaf swap) under both ``merge_upsert_partitioned`` and
:func:`merge_apply_partitioned`.

Scale: both sides shuffle on the join keys once; AQE broadcasts a
small changeset side. Callers persist the returned frame via
Catalog.overwrite_via_staging (the table reads its own files) or the
partition-scoped driver.

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


def _key_pairs(on) -> list[tuple[str, str]]:
    pairs = [
        (k, k) if isinstance(k, str) else (k[0], k[1]) for k in on
    ]
    if not pairs:
        raise ValueError("merge: ON needs at least one key pair")
    return pairs


def _evolve(target: DataFrame, source: DataFrame) -> DataFrame:
    """Additive schema evolution (Delta ``mergeSchema`` analogue):
    source columns the target lacks are appended to the target as
    typed NULLs."""
    have = set(target.columns)
    for f_ in source.schema.fields:
        if f_.name not in have:
            target = target.withColumn(
                f_.name, F.lit(None).cast(f_.dataType)
            )
    return target


def _require_same_columns(target_cols, source_cols, what: str) -> None:
    if set(target_cols) != set(source_cols):
        raise ValueError(
            f"{what} requires identical columns; "
            f"target={list(target_cols)} source={list(source_cols)}"
        )


def _ts_guard(s_ts: str, t_ts: str, op: str = ">=") -> Column:
    """Newer-wins MATCHED guard ``source.s_ts OP target.t_ts`` with a
    null timestamp compared as **-infinity on both sides**: a null
    source ts loses to any non-null target ts, a null target ts loses
    to any non-null source ts, and null-vs-null is a tie (``>=`` wins
    it, ``>`` does not). Written with when/otherwise so the guard is
    total — no three-valued NULL reaches the action cascade."""
    s_col, t_col = F.col(f"{SOURCE_PREFIX}{s_ts}"), F.col(t_ts)
    return (
        F.when(s_col.isNull() & t_col.isNull(), F.lit(op == ">="))
        .when(s_col.isNull(), F.lit(False))
        .when(t_col.isNull(), F.lit(True))
        .otherwise(s_col >= t_col if op == ">=" else s_col > t_col)
    )


def _merge(
    target: DataFrame,
    source: DataFrame,
    on: list[tuple[str, str]] | list[str],
    matched: list[MatchedClause] | None = None,
    not_matched: list[NotMatchedClause] | None = None,
    not_matched_by_source: list[NotMatchedBySourceClause] | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """The join core: :func:`merge_apply` without the duplicate-key
    probe. Runs no Spark job; callers own the source rule (a probe, or
    a dedup that makes keys unique)."""
    matched = matched or []
    not_matched = not_matched or []
    not_matched_by_source = not_matched_by_source or []
    pairs = _key_pairs(on)
    if evolve_schema:
        target = _evolve(target, source)

    # every .columns is a round trip to the JVM: read each side once
    cols, src_cols = target.columns, source.columns
    # staging names: presence markers and the source rename prefix (a
    # real target column "__s_x" would collide with the renamed source
    # "x") — a real column by any of these names would be silently
    # overwritten, so fail fast instead
    reserved = {"__t_present__", "__s_present__"}
    clash = sorted(
        c
        for c in set(cols) | set(src_cols)
        if c in reserved or c.startswith(SOURCE_PREFIX)
    )
    if clash:
        raise ValueError(
            f"merge: column(s) {clash} collide with reserved staging "
            "names (__t_present__/__s_present__/'__s_' prefix); "
            "rename them before merging."
        )
    for m in matched:
        if m.sets is not None and not m.sets and not m.update_all:
            raise ValueError(
                "MatchedClause with empty sets updates nothing — use "
                "sets=None for DELETE or update_all=True for SET *"
            )

    # Source columns are renamed (prefixed) before the join so every
    # reference below is by unique name — immune to the ambiguous-
    # column trap when target and source share lineage. Presence is
    # tracked with marker columns: after the full-outer join the
    # marker is null on the side that had no matching key (null-safe
    # join keys make key-null checks unreliable for presence).
    t = target.select("*", F.lit(True).alias("__t_present__"))
    s = source.select(
        *[F.col(c).alias(f"{SOURCE_PREFIX}{c}") for c in src_cols],
        F.lit(True).alias("__s_present__"),
    )
    jc = None
    for tc, sc in pairs:
        c = F.col(tc).eqNullSafe(F.col(f"{SOURCE_PREFIX}{sc}"))
        jc = c if jc is None else (jc & c)
    joined = t.join(s, jc, "full_outer")
    t_here = F.col("__t_present__").isNotNull()
    s_here = F.col("__s_present__").isNotNull()

    # Global action table: each firing clause gets an index; the value
    # projection below switches on it. KEEP keeps target values, DROP
    # filters the row out. Every Column and frame built from here on
    # is a JVM round trip on the driver, paid by each merge (one per
    # CDC batch), so none is built in vain.
    actions: list[dict[str, Column] | None] = []  # None → drop
    star: dict[str, Column] = {}

    def _cascade(clauses, default: int, to_action) -> Column | int:
        out = default
        # build right-to-left so the FIRST clause wins the cascade; an
        # unconditional clause hides every clause after it
        for cl in reversed(list(clauses)):
            idx = to_action(cl)
            out = (
                idx if cl.condition is None
                else F.when(_cond_col(cl.condition), idx).otherwise(out)
            )
        return out

    def _star(what: str) -> dict[str, Column]:
        # one dict for every SET * / INSERT *, so the projection gives
        # them one branch
        _require_same_columns(cols, src_cols, what)
        if not star:
            star.update({c: F.col(f"{SOURCE_PREFIX}{c}") for c in cols})
        return star

    def _update_action(cl) -> int:
        """MATCHED and NOT MATCHED BY SOURCE: DELETE, SET * or SETs."""
        if cl.sets is None:
            actions.append(None)
        elif getattr(cl, "update_all", False):
            actions.append(_star("UPDATE SET *"))
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
            actions.append(_star("INSERT *"))
        else:
            unknown = [c for c in cl.values if c not in cols]
            if unknown:
                raise ValueError(
                    f"INSERT columns {unknown} not in target {cols}"
                )
            vals = _exprs(cl.values)
            actions.append({
                f_.name: vals.get(f_.name, F.lit(None).cast(f_.dataType))
                for f_ in target.schema.fields
            })
        return len(actions) - 1

    act = (
        F.when(
            t_here & s_here, _cascade(matched, _KEEP, _update_action)
        )
        .when(s_here, _cascade(not_matched, _DROP, _nm_action))
        .otherwise(
            _cascade(not_matched_by_source, _KEEP, _update_action)
        )
    )
    # rows no clause keeps: DELETEs, and source rows no NOT MATCHED
    # clause inserts (none once one is unconditional)
    dropped = [i for i, a in enumerate(actions) if a is None]
    if not any(cl.condition is None for cl in not_matched):
        dropped.append(_DROP)
    # the action index stays one expression inside the filter and the
    # projection, not a staged column: one frame fewer to build, and
    # codegen's common-subexpression elimination computes it once
    staged = joined.where(~act.isin(dropped)) if dropped else joined
    picked = []
    fires: dict[tuple[int, ...], Column] = {}  # one test per index set
    for c in cols:
        # actions sharing one expression share one branch
        branches: dict[int, tuple[Column, list[int]]] = {}
        for i, a in enumerate(actions):
            if a is not None and c in a:
                branches.setdefault(id(a[c]), (a[c], []))[1].append(i)
        expr = F.col(c)
        for e, idxs in branches.values():
            if tuple(idxs) not in fires:
                fires[tuple(idxs)] = act.isin(idxs)
            expr = F.when(fires[tuple(idxs)], e).otherwise(expr)
        picked.append(expr.alias(c))
    return staged.select(*picked)


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
    changeset, not a join, and the only Spark job this function runs.
    Pre-dedup with ``dedup_latest`` (or use merge_upsert, which does
    it for you) when the feed carries replays.

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
    merged = _merge(
        target, source, on, matched, not_matched, not_matched_by_source,
        evolve_schema,
    )
    s_keys = [p[1] for p in _key_pairs(on)]
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
    return merged


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


def _prune_refusal(
    pcols: list[str],
    pairs: list[tuple[str, str]],
    matched: list[MatchedClause],
    not_matched: list[NotMatchedClause],
) -> str | None:
    """Why a clause set cannot run leaf-scoped on a table partitioned
    by ``pcols`` (None: it can). The SQL front-end takes the
    whole-table rewrite instead; :func:`merge_apply_partitioned`
    refuses with the reason."""
    same_named = {tc for tc, sc in pairs if tc == sc}
    missing = [c for c in pcols if c not in same_named]
    if missing:
        return (
            "every partition column must be a same-named merge key; "
            f"{missing} are not (keys: {pairs})"
        )
    if any(m.sets is None for m in matched):
        return (
            "DELETE clauses can empty a leaf, which the leaf swap "
            "cannot express — use the whole-table path (or "
            "delete_where)"
        )
    moved = sorted({c for m in matched for c in m.sets or {}} & set(pcols))
    if moved:
        return (
            f"UPDATE SET assigns partition column(s) {moved} — rows "
            "may not move between leaves; use the whole-table path"
        )
    nm_bad = nm_partition_violations(not_matched, pcols)
    if nm_bad:
        return (
            "inserted rows must land in their source row's partition "
            "(INSERT * or VALUES assigning each partition column "
            f"exactly {SOURCE_PREFIX}<col>) — otherwise they fall "
            "outside the probed leaf set and are silently dropped by "
            "the partition swap; use the whole-table path. "
            "Violations: " + "; ".join(nm_bad)
        )
    return None


def _merge_partitions(
    catalog,
    table: str,
    source: DataFrame,
    pcols: list[str],
    merge_slice,
    max_partitions: int,
    touched_hint: list | None = None,
    bootstrap: bool = False,
) -> list[tuple]:
    """The partition-scoped merge driver under both
    ``merge_upsert_partitioned`` and :func:`merge_apply_partitioned`:

    1. the touched partition tuples: ``touched_hint`` when the caller
       derived them without a job, else ONE bounded distinct probe
       over the changeset — LIMIT max+1 caps the driver transfer, so
       a mistaken high-cardinality column fails fast after shipping
       at most ``max_partitions + 1`` values, never the full list;
    2. NULL partition values fail fast (``IN``/``=`` never match NULL,
       so those changeset rows would silently vanish);
    3. a partition-pruned read of only the touched leaves, merged by
       ``merge_slice(target_slice)``;
    4. a leaf-directory swap (``overwrite_partitions``) whose commit
       retains the pre-state as a hardlink snapshot; then the caches
       the merge adopted onto its frame are released.

    With ``bootstrap`` a missing table is created from the source (the
    CDC upsert's first write). Returns the touched tuples."""
    from .. import caching
    from ..catalog import (
        _check_no_null_partition_values,
        partition_predicate,
    )

    if touched_hint is not None:
        touched = [tuple(t) for t in touched_hint]
    else:
        touched = [
            tuple(r)
            for r in source.select(*pcols)
            .distinct()
            .limit(max_partitions + 1)
            .collect()
        ]
    if len(touched) > max_partitions:
        raise ValueError(
            f"partition-scoped merge: source has more than "
            f"{max_partitions} distinct values of {pcols!r}; this looks "
            "like a non-partition (high-cardinality) column. Pick the "
            "table's real partition columns or raise max_partitions."
        )
    _check_no_null_partition_values(pcols, touched)
    if not touched:
        return []
    if bootstrap and not catalog.exists(table):
        catalog.overwrite(source, table, partition_by=pcols)
        return touched
    merged = merge_slice(
        catalog.read(table).filter(partition_predicate(pcols, touched))
    )
    catalog.overwrite_partitions(merged, table, pcols, touched)
    caching.release(merged)
    return touched


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
    against a hive-partitioned CATALOG table: :func:`merge_apply` over
    the touched leaves only, through the shared driver
    :func:`_merge_partitions`. Returns the touched partition tuples.

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
      partition — nothing to prune; this signature takes none);
    - no clause SETs a partition column (rows must not move between
      leaves);
    - every inserted row lands in its source row's partition
      (:func:`nm_partition_violations`).

    A changeset touching 3 of 3,000 partitions reads and rewrites
    ~0.1% of the table.

    ``touched_hint``: a caller that can derive the touched set WITHOUT
    a job — planning.py's ``touched_partitions_from_layout`` reads it
    from a partitioned source table's leaf directories — passes it
    here and the probe is skipped entirely. The hint must be a
    SUPERSET of the changeset's actual partitions: extra leaves are
    read and rewritten unchanged (safe, bounded by max_partitions); a
    MISSING leaf would drop that leaf's changes, which is why only
    metadata-sound derivations may hint.
    """
    from ..catalog import detect_partition_cols

    matched = matched or []
    not_matched = not_matched or []
    pairs = _key_pairs(on)
    pcols = detect_partition_cols(catalog.path(table))
    if not pcols:
        raise ValueError(
            f"merge_apply_partitioned: {table} has no detectable hive "
            "partition layout"
        )
    refusal = _prune_refusal(pcols, pairs, matched, not_matched)
    if refusal:
        raise ValueError(f"merge_apply_partitioned: {refusal}")
    return _merge_partitions(
        catalog, table, source, pcols,
        lambda target_slice: merge_apply(
            target_slice, source, pairs,
            matched=matched, not_matched=not_matched,
        ),
        max_partitions, touched_hint,
    )
