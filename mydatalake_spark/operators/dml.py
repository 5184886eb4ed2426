"""Row-level DML on catalog tables: DELETE and UPDATE.

Delta Lake exposes ``DELETE FROM t WHERE cond`` and ``UPDATE t SET c =
expr WHERE cond`` as first-class, versioned, copy-on-write operations —
the reference's Databricks backend has them natively on every bronze/
silver table it MERGEs into (reference lib/ingestors.py:113-126 runs on
Delta; DML is part of that table contract even though the reference
never issues one itself). **[extension]** This module supplies the
parquet-path analogue on :class:`~mydatalake_spark.catalog.Catalog`
tables, completing the Delta-parity DML family alongside
``merge_upsert*`` (upsert), ``restore``/``clone``/``vacuum``/
``table_changes`` (catalog.py), with the same two scale properties
Delta's implementation has:

- **copy-on-write, partition-pruned**: with ``partition_cols`` given,
  a bounded probe finds the leaf partitions that actually contain
  matching rows, and ONLY those leaves are read and rewritten — the
  untouched 99% of a 100 TB table is never scanned and stays
  byte-identical on disk (hardlink snapshots keep sharing its inodes,
  so ``table_changes(partition_cols=...)`` can later PROVE those
  leaves unchanged without reading them).
- **versioned**: the pre-state is retained (staging-swap snapshot on
  the whole-table path, an explicit hardlink ``Catalog.snapshot`` on
  the in-place partitioned path), so time travel, RESTORE, and the
  change feed compose over a DELETE/UPDATE exactly as over a MERGE.

SQL ternary semantics are honored: rows where the condition evaluates
to NULL are NOT matched (kept by DELETE, left unmodified by UPDATE) —
the same rule as ``DELETE FROM``'s WHERE. UPDATE's SET expressions all
evaluate against the PRE-update row (Delta/ANSI UPDATE semantics), so
``{"a": "b", "b": "a"}`` swaps the columns rather than chaining.

On a Delta-enabled catalog (``catalog.fmt == "delta"``) use Delta's
own transactional ``DELETE``/``UPDATE`` SQL instead — these staging
swaps assume immutable plain-parquet directories (same capability
split as merge_upsert vs merge_upsert_delta).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["delete_where", "update_where"]


def _refuse_delta_catalog(catalog, op: str) -> None:
    """These staging swaps move/replace leaf directories behind a
    possible ``_delta_log``, which would leave the log referencing
    deleted files — table corruption, not an error a reader can
    recover from. Same capability split as merge_upsert vs
    merge_upsert_delta: on a Delta catalog, Delta's own transactional
    DML is the right tool, so refuse by name instead of corrupting."""
    if getattr(catalog, "fmt", None) == "delta":
        raise ValueError(
            f"{op}: catalog format is 'delta' — plain-parquet "
            "directory swaps would corrupt the Delta log. Use Delta's "
            "own DELETE/UPDATE SQL (spark.sql on the Delta table), "
            "the same split as merge_upsert vs merge_upsert_delta."
        )


def _matched(condition) -> Column:
    """The MATCHED predicate with SQL ternary semantics collapsed:
    NULL → not matched (ANSI DELETE/UPDATE ... WHERE)."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    return F.coalesce(cond, F.lit(False))


def _raw_leaf_dirs(root: str, pcols: list[str]) -> set[str]:
    """Relative paths of every hive-layout LEAF partition directory
    under ``root``, in Spark's own dirname encoding (``date=2024-01-02/
    region=EU``). Staying in dirname space is the point: comparing two
    Spark-written trees never re-implements Spark's value→dirname
    escaping (which _leaf_partition_files must unquote for predicate
    values — here we need the opposite direction, so we never decode)."""
    out: set[str] = set()

    def walk(d: str, depth: int, rel: str) -> None:
        if depth == len(pcols):
            out.add(rel)
            return
        prefix = f"{pcols[depth]}="
        if not os.path.isdir(d):
            return
        for entry in os.listdir(d):
            if entry.startswith(prefix):
                walk(
                    os.path.join(d, entry),
                    depth + 1,
                    os.path.join(rel, entry) if rel else entry,
                )

    walk(root, 0, "")
    return out


def _probe_touched(
    df: DataFrame, matched: Column, pcols: list[str], max_partitions: int
) -> tuple[list, int]:
    """One column-pruned scan answering both planning questions: which
    leaf partitions contain matched rows, and how many rows match in
    total. Same driver-boundedness contract as
    merge_upsert_partitioned: LIMIT max+1 caps the transfer BEFORE we
    learn the list, so a mistaken high-cardinality column fails fast
    instead of OOMing the driver."""
    from ..catalog import _check_no_null_partition_values

    # the aggregate gets a reserved alias so a partition column
    # literally named "count" cannot shadow it in the Row lookup
    probe = (
        df.where(matched)
        .groupBy(*pcols)
        .agg(F.count(F.lit(1)).alias("__dml_n__"))
        .limit(max_partitions + 1)
        .collect()
    )
    if len(probe) > max_partitions:
        raise ValueError(
            f"DML touches more than {max_partitions} distinct values "
            f"of {pcols!r}; this looks like a non-partition "
            "(high-cardinality) column. Pick the table's real "
            "partition columns or raise max_partitions."
        )
    touched = [tuple(r[c] for c in pcols) for r in probe]
    _check_no_null_partition_values(pcols, touched)
    n_matched = sum(r["__dml_n__"] for r in probe)
    return touched, n_matched


def _checkpoint_if_versioned(catalog, table: str, checkpoint: bool) -> None:
    """Hardlink-snapshot the live state before an in-place partition
    mutation, so the DML commits a version like every other write path
    (O(#files) metadata — Catalog.snapshot).

    ``checkpoint`` governs ONLY this in-place partitioned path: the
    whole-table paths ride overwrite_via_staging, whose rename-on-
    overwrite snapshot follows the catalog's keep_versions policy like
    every other full overwrite — there is no opt-out there, by design
    (both delete_where and update_where document this)."""
    if checkpoint and catalog.keep_versions > 0:
        catalog.snapshot(table)


def _apply_sets(rows: DataFrame, set_exprs: dict, matched: Column) -> DataFrame:
    """Apply UPDATE SET semantics to a frame: matched rows get every
    SET expression (all evaluated against the PRE-update row — ANSI
    UPDATE, swaps never chain), unmatched rows pass through. Validates
    that every SET column exists (UPDATE cannot add columns)."""
    unknown = [c for c in set_exprs if c not in rows.columns]
    if unknown:
        raise ValueError(
            f"update: SET columns {unknown} do not exist "
            f"(columns: {rows.columns}); UPDATE cannot add columns — "
            "use merge_upsert(evolve_schema=True) for additive schema "
            "changes."
        )
    sets = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in set_exprs.items()
    }
    return rows.select(
        *[
            F.when(matched, sets[c]).otherwise(F.col(c)).alias(c)
            if c in sets
            else F.col(c)
            for c in rows.columns
        ]
    )


def delete_where(
    catalog,
    table: str,
    condition,
    partition_cols: list[str] | None = None,
    max_partitions: int = 10_000,
    checkpoint: bool = True,
) -> int:
    """``DELETE FROM table WHERE condition`` (Delta DML analogue),
    copy-on-write. Returns the number of rows deleted. ``checkpoint``
    applies to the partitioned in-place path only; the whole-table
    path always versions per the catalog's ``keep_versions`` policy
    (it rides the same staging-swap snapshot as every full overwrite).

    ``condition`` is a SQL expression string or a Column; NULL
    evaluations keep the row (ANSI WHERE semantics — unit-pinned).

    Whole-table path (``partition_cols=None``): the retained rows are
    rewritten through ``overwrite_via_staging`` (the scan feeds its own
    overwrite, so the staging swap is mandatory), which snapshots the
    pre-state — the DELETE is a new version, time travel and RESTORE
    compose. Deleting EVERY row is refused with a pointer to
    ``truncate()``: an all-deleted parquet directory would hold no
    footer to read a schema from, and "delete 100% of a table" is a
    different intent than row-level DML.

    Partitioned path (``partition_cols=[...]`` — the table's hive
    layout): a bounded groupBy probe (ONE scan, pruned to the
    condition+partition columns) finds the touched leaves and the
    deleted-row count together; only those leaves are read (static
    partition pruning via ``partition_predicate``) and swapped; a leaf
    whose every row matched is REMOVED (directory and now-empty parent
    levels) — the case ``overwrite_partitions`` by contract never
    faces. Untouched leaves are never read and keep their inodes, so a
    prior hardlink snapshot still proves them unchanged to the pruned
    change feed. Emptying every remaining leaf is refused before any
    mutation, same rationale as the whole-table refusal.

    At 100 TB: the probe is a partial-agg count per touched partition
    (driver transfer bounded by ``max_partitions``); the rewrite reads
    and writes only partitions that contain matched rows. A DELETE
    confined to 3 of 3,000 date partitions scans and rewrites ~0.1% of
    the table. No version is committed and nothing is rewritten when 0
    rows match (Delta's no-file-touched fast path).
    """
    _refuse_delta_catalog(catalog, "delete_where")
    matched = _matched(condition)
    df = catalog.read(table)

    if partition_cols is None:
        # one column-pruned scan answers both planning questions
        n_deleted, n_rows = df.agg(
            F.count_if(matched), F.count(F.lit(1))
        ).first()
        if n_deleted == 0:
            return 0
        if n_deleted == n_rows:
            raise ValueError(
                f"delete_where would remove every row of {table}; "
                "use Catalog.truncate() (an empty parquet directory "
                "has no schema to read back)."
            )
        catalog.overwrite_via_staging(df.where(~matched), table)
        return n_deleted

    pcols = list(partition_cols)
    touched, n_deleted = _probe_touched(df, matched, pcols, max_partitions)
    if not touched:
        return 0

    from ..catalog import partition_predicate

    base = catalog.path(table)
    staging = base + "__dmlstaging"
    touchdir = base + "__dmltouched"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(touchdir, ignore_errors=True)
    slice_pred = partition_predicate(pcols, touched)
    (
        df.where(slice_pred)
        .where(~matched)
        .write.format(catalog.fmt)
        .mode("overwrite")
        .partitionBy(*pcols)
        .save(staging)
    )
    # Render the touched VALUES through Spark's own value→dirname
    # encoding (a ≤max_partitions-row write) so emptied-leaf removal
    # happens purely in dirname space — never re-implementing hive
    # escaping for dates/strings/specials.
    spark = df.sparkSession
    (
        spark.createDataFrame(touched, schema=df.select(*pcols).schema)
        .withColumn("__x__", F.lit(1))
        .write.mode("overwrite")
        .partitionBy(*pcols)
        .save(touchdir)
    )
    touched_rel = _raw_leaf_dirs(touchdir, pcols)
    staged_rel = _raw_leaf_dirs(staging, pcols)
    emptied_rel = touched_rel - staged_rel
    live_rel = _raw_leaf_dirs(base, pcols)
    if not (live_rel - emptied_rel):
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(touchdir, ignore_errors=True)
        raise ValueError(
            f"delete_where would empty every partition of {table}; "
            "use Catalog.truncate()."
        )
    _checkpoint_if_versioned(catalog, table, checkpoint)
    for rel in sorted(staged_rel):
        dst = os.path.join(base, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(os.path.join(staging, rel), dst)
    for rel in sorted(emptied_rel):
        shutil.rmtree(os.path.join(base, rel), ignore_errors=True)
        # prune now-empty intermediate levels so a later leaf walk
        # doesn't report a valueless directory husk
        parent = os.path.dirname(os.path.join(base, rel))
        while parent != base and os.path.isdir(parent) and not os.listdir(
            parent
        ):
            os.rmdir(parent)
            parent = os.path.dirname(parent)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(touchdir, ignore_errors=True)
    catalog._invalidate(table)
    return n_deleted


def update_where(
    catalog,
    table: str,
    set_exprs: dict,
    condition,
    partition_cols: list[str] | None = None,
    max_partitions: int = 10_000,
    checkpoint: bool = True,
    allow_partition_move: bool = False,
) -> int:
    """``UPDATE table SET col = expr, ... WHERE condition`` (Delta DML
    analogue), copy-on-write. Returns the number of rows updated.
    ``checkpoint`` applies to the partitioned in-place path only (see
    :func:`delete_where`).

    ``set_exprs`` maps EXISTING column names to SQL expression strings
    or Columns, all evaluated against the pre-update row (ANSI UPDATE:
    ``{"a": "b", "b": "a"}`` swaps, never chains); assigning a column
    the table lacks is refused (UPDATE cannot add columns — schema
    evolution belongs to ``merge_upsert(evolve_schema=True)``). NULL
    condition evaluations leave the row unmodified.

    The partitioned path carries one extra contract: ``set_exprs``
    assigning a partition column means rows may MOVE between
    partitions, which the pruned in-place rewrite cannot express.
    Default: refused by name. With ``allow_partition_move=True``
    (Delta UPDATE semantics — the SQL front-end passes it), the
    statement degrades to a whole-table staging rewrite that
    re-partitions by ``partition_cols``, so the layout survives the
    move — correct, just unpruned, the same plan Delta picks when
    files can't be skipped. Otherwise leaves are never emptied or
    created and the rewrite delegates to ``overwrite_partitions``;
    the pre-state is checkpointed via hardlink snapshot so the UPDATE
    is a version like any other write.

    Scale shape is identical to :func:`delete_where`: bounded probe,
    static pruning, touched-leaves-only rewrite, 0-match fast path.

    Generated columns (Delta semantics): an UPDATE touching a
    generation's SOURCE column recomputes the generated column
    automatically — declared generated columns not explicitly SET are
    dropped from the rewrite frame, and the write path's own
    ``_with_generated`` recomputes them in the same pass (a stale
    carried value would otherwise trip the equality guard). A
    generated PARTITION column whose expression references a SET
    column means rows may MOVE between leaves, exactly like SETting
    the partition column itself — same refusal / whole-table
    fallback.
    """
    _refuse_delta_catalog(catalog, "update_where")
    matched = _matched(condition)
    df = catalog.read(table)
    gens = (
        catalog.generated_columns(table)
        if hasattr(catalog, "generated_columns")
        else {}
    )
    recompute = [g for g in gens if g not in set_exprs]

    def _regen(frame: DataFrame) -> DataFrame:
        # drop stale carried values; the write path recomputes them
        return frame.drop(
            *[g for g in recompute if g in frame.columns]
        )

    if partition_cols is None:
        applied = _apply_sets(df, set_exprs, matched)  # validates SETs
        n_updated = df.where(matched).count()
        if n_updated == 0:
            return 0
        catalog.overwrite_via_staging(_regen(applied), table)
        return n_updated

    pcols = list(partition_cols)
    _apply_sets(df.limit(0), set_exprs, matched)  # validate SETs up front
    import re as _re

    gen_moved = sorted(
        g
        for g in pcols
        if g in gens
        and any(
            _re.search(rf"\b{_re.escape(c)}\b", gens[g])
            for c in set_exprs
        )
    )
    moved = sorted((set(set_exprs) & set(pcols)) | set(gen_moved))
    if moved:
        if not allow_partition_move:
            raise ValueError(
                f"update_where: SET assigns partition column(s) "
                f"{moved}; rows may not move between partitions in a "
                "partition-scoped update — pass allow_partition_move="
                "True for a layout-preserving whole-table rewrite, or "
                "express the move as MERGE (delete+insert)."
            )
        applied = _apply_sets(df, set_exprs, matched)
        n_updated = df.where(matched).count()
        if n_updated == 0:
            return 0
        catalog.overwrite_via_staging(
            _regen(applied), table, partition_by=pcols
        )
        return n_updated
    touched, n_updated = _probe_touched(df, matched, pcols, max_partitions)
    if not touched:
        return 0

    from ..catalog import partition_predicate

    new_slice = _regen(
        _apply_sets(
            df.where(partition_predicate(pcols, touched)),
            set_exprs,
            matched,
        )
    )
    # Snapshot only once the updated slice has materialized in staging
    # (pre_swap fires between overwrite_partitions' staging write and
    # its directory swaps): a rewrite that FAILS — e.g. a CHECK guard
    # raising mid-write — must not burn a keep_versions slot on a
    # version identical to live. delete_where orders this the same way.
    catalog.overwrite_partitions(
        new_slice, table, pcols, touched,
        pre_swap=lambda: _checkpoint_if_versioned(catalog, table, checkpoint),
    )
    return n_updated
