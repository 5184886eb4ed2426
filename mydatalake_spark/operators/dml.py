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
- **versioned**: every statement commits through the catalog's one
  publish step, which retains the pre-state (a renamed directory on
  the whole-table path, a hardlink snapshot on the partitioned path),
  so time travel, RESTORE, and the change feed compose over a
  DELETE/UPDATE exactly as over a MERGE.

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
) -> int:
    """``DELETE FROM table WHERE condition`` (Delta DML analogue),
    copy-on-write. Returns the number of rows deleted. Both paths
    commit through the catalog's one publish step, so each DELETE is
    one version when the catalog's ``keep_versions`` is on.

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
    partition pruning via ``partition_predicate``) and staged, and the
    catalog's leaf-swap commit replaces them under its publish lock —
    a leaf whose every row matched is REMOVED (directory and now-empty
    parent levels), the case ``overwrite_partitions`` by contract
    never faces. The pre-state is a hardlink snapshot: untouched
    leaves are never read and keep their inodes, so the pruned change
    feed can prove them unchanged. Emptying every remaining leaf is
    refused before any mutation, same rationale as the whole-table
    refusal.

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

    from ..catalog import _raw_leaf_dirs, partition_predicate

    # Render the touched VALUES through Spark's own value→dirname
    # encoding (a ≤max_partitions-row write) so emptied-leaf removal
    # happens purely in dirname space — never re-implementing hive
    # escaping for dates/strings/specials.
    spark = df.sparkSession
    touchdir = catalog._stage(
        spark.createDataFrame(touched, schema=df.select(*pcols).schema)
        .withColumn("__x__", F.lit(1)),
        table, "__dmltouched", pcols,
    )
    touched_rel = _raw_leaf_dirs(touchdir, pcols)
    shutil.rmtree(touchdir, ignore_errors=True)
    kept = df.where(partition_predicate(pcols, touched)).where(~matched)
    staging = catalog._stage(kept, table, "__dmlstaging", pcols)
    staged_rel = _raw_leaf_dirs(staging, pcols)
    emptied_rel = touched_rel - staged_rel
    if not (_raw_leaf_dirs(catalog.path(table), pcols) - emptied_rel):
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"delete_where would empty every partition of {table}; "
            "use Catalog.truncate()."
        )
    catalog._publish(
        table, staging, leaves=staged_rel, emptied=emptied_rel,
        schema=kept.schema,
    )
    return n_deleted


def update_where(
    catalog,
    table: str,
    set_exprs: dict,
    condition,
    partition_cols: list[str] | None = None,
    max_partitions: int = 10_000,
    allow_partition_move: bool = False,
) -> int:
    """``UPDATE table SET col = expr, ... WHERE condition`` (Delta DML
    analogue), copy-on-write. Returns the number of rows updated;
    versioned like :func:`delete_where`.

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
    created and the rewrite delegates to ``overwrite_partitions``,
    whose commit retains the pre-state as a hardlink snapshot.

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
    catalog.overwrite_partitions(new_slice, table, pcols, touched)
    return n_updated
