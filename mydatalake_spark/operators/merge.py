"""Keyed, time-ordered MERGE upsert (CDC) without Delta Lake.

Reference parity: ``IngestorCDC.upsert`` runs a Delta MERGE
``old.{key} = new.{key} AND new.{ts} >= old.{ts}`` with
whenMatchedUpdateAll / whenNotMatchedInsertAll
(reference lib/ingestors.py:122-126); the checker history uses a
6-column equi MERGE (reference lib/checker_handler.py:179-191).

Two deliberate corrections (SURVEY.md §7.4(2)):
1. The reference puts the timestamp guard in the ON clause, so a
   source row whose key matches but whose ts is stale counts as NOT
   MATCHED and is *inserted* — a duplicate-key hazard. Here the join
   is on keys only; the ts guard decides update-vs-keep.
2. Delta MERGE requires a unique source match per target row; we
   pre-dedup the source on the keys (latest-wins) so the merge is
   deterministic for any input.

Implementation (delta-spark is not installed — SURVEY.md §7.4(3)):
``merge_upsert`` is a clause set of the one MERGE engine,
operators/merge_clauses.py ``_merge`` — ``UPDATE SET * WHEN <ts
guard>`` + ``INSERT *`` (+ BY SOURCE DELETE for full sync) over the
latest-wins deduped source, as one full-outer join. The dedup makes
the source keys unique, so unlike ``merge_apply`` it never runs the
duplicate-key probe: building the plan runs no Spark job. Scale
notes (100 TB): the join shuffles both sides by key, however small
the changeset: Spark has no broadcast FULL OUTER join, so neither the
planner nor AQE broadcasts either side, and the plan is a
``SortMergeJoin FullOuter`` with an Exchange under each side (PLANS.md
``merge_cdc_orders``). Every target row is shuffle-written on every
batch. Two merges avoid that: ``merge_upsert_bloomed`` routes target
rows that provably miss the changeset around the join, and, for
partitioned tables, ``merge_upsert_partitioned`` runs the same merge
through the shared partition-scoped driver, so unchanged partitions
are never read or rewritten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_latest
from .merge_clauses import (
    MatchedClause,
    NotMatchedBySourceClause,
    NotMatchedClause,
    _evolve,
    _merge,
    _merge_partitions,
    _require_same_columns,
    _ts_guard,
)


def _dedup_source(
    source: DataFrame,
    keys: list[str],
    ts_col: str | None,
    tiebreakers: list[str] | None,
) -> DataFrame:
    """Latest-wins pre-dedup of a changeset on its merge keys. With no
    explicit tiebreakers, a stable one is synthesized (xxhash64 of the
    null-safe composite string of the non-key columns) so equal-
    (key, ts) duplicates pick the same survivor under any run/
    partition layout (dedup.py's determinism rule). The composite
    string, not ``xxhash64(*cols)``: xxhash64 SKIPS null arguments, so
    rows differing only by a null shift ((null,'x') vs ('x',null))
    would share a tiebreaker and the tie would fall back to partition
    order — exactly the nondeterminism the tiebreaker exists to
    remove. A real ``__tb__`` column would be consumed by that
    synthesized tiebreaker, so it is refused."""
    cols = source.columns
    if "__tb__" in cols:
        raise ValueError(
            "merge: column '__tb__' collides with the reserved "
            "tiebreaker staging name; rename it before merging."
        )
    if ts_col is None:
        return source.dropDuplicates(keys)
    if tiebreakers:
        return dedup_latest(source, keys, [ts_col], tiebreakers)
    non_key = [c for c in cols if c not in keys]
    return (
        source.withColumn(
            "__tb__", F.xxhash64(_composite_key(non_key))
        )
        .transform(lambda d: dedup_latest(d, keys, [ts_col], ["__tb__"]))
        .drop("__tb__")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    tiebreakers: list[str] | None = None,
    evolve_schema: bool = False,
    delete_missing: bool = False,
) -> DataFrame:
    """Latest-wins keyed upsert of ``source`` into ``target``.

    - key in both: source row wins iff ``source.ts >= target.ts``
      (reference semantics, reference lib/ingestors.py:123), else the
      target row is kept;
    - key only in source: inserted;
    - key only in target: kept — unless ``delete_missing=True``
      (full-sync semantics, Delta's ``whenNotMatchedBySourceDelete``
      analogue: the source is the complete desired state and
      target-only keys are dropped).
    With ``ts_col=None`` (pure equi MERGE, reference
    lib/checker_handler.py:179-191 shape) the source always wins.

    Null-ts semantics (explicit): a null ``ts_col`` compares as
    **-infinity on both sides**, so a null-ts source row loses to any
    non-null target ts, a null-ts target row loses to any source row,
    and null-vs-null is a tie that the source wins (``>=``). This keeps
    "source wins iff source.ts >= target.ts" total over nulls.

    Determinism: when the source has several rows with the same key AND
    the same ``ts_col`` value, the survivor is picked by ``tiebreakers``;
    if none are given, a stable tiebreaker is synthesized (xxhash64 of
    all non-key columns) so re-runs and different partition layouts
    produce the same merge result.

    Columns must match between target and source (updateAll/insertAll
    semantics). With ``evolve_schema=True``, ADDITIVE drift is allowed
    (Delta ``mergeSchema`` analogue): columns the source adds are
    appended to the target with typed nulls for all pre-existing rows.
    Source MISSING a target column is still an error either way — an
    upstream silently dropping fields must surface, not quietly null
    updated rows. Returns the merged DataFrame; callers persist it via
    Catalog.overwrite (or partition-scoped overwrite at scale).
    """
    source = _dedup_source(source, keys, ts_col, tiebreakers)
    guard = None if ts_col is None else _ts_guard(ts_col, ts_col)
    return _merge(
        target, source, keys,
        matched=[MatchedClause(condition=guard, update_all=True)],
        not_matched=[NotMatchedClause(insert_all=True)],
        not_matched_by_source=(
            [NotMatchedBySourceClause(sets=None)] if delete_missing else None
        ),
        evolve_schema=evolve_schema,
    )


def _composite_key(keys: list[str]) -> Column:
    """Canonical string form of a (possibly multi-column) merge key,
    total over nulls: each part is cast to string with a NULL sentinel,
    joined with a unit separator. Null-safe-equal keys (the merge's
    ``eqNullSafe`` rule) always map to the SAME string, so a bloom
    built over these strings has NO false negatives for the merge
    join. A value that happens to contain the sentinel bytes can at
    worst COLLIDE two different keys — a bloom false positive, which
    the exact join discards anyway."""
    parts = [
        F.coalesce(F.col(k).cast("string"), F.lit("\x00NULL\x00"))
        for k in keys
    ]
    return F.concat_ws("\x1f", *parts)


def merge_upsert_bloomed(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    tiebreakers: list[str] | None = None,
    evolve_schema: bool = False,
    delete_missing: bool = False,
    m_bits: int | str = "auto",
    k: int = 3,
    family: str = "native",
) -> DataFrame:
    """:func:`merge_upsert` with bloom-pruned shuffle — identical
    results, but only the target rows that MIGHT match the changeset
    pay the merge join's shuffle.

    The 100 TB shape of a CDC merge is a tiny changeset against a huge
    accumulated table; the plain full-outer join still shuffles the
    ENTIRE target by key. Here the changeset's keys are folded into a
    driver-held bloom word list (:func:`~.bloomjoin.bloom_mask_array`,
    sized by ``m_bits="auto"`` from the changeset's distinct key count
    at ~12 bits/key, capped at ~1 MB — and when even the capped filter
    cannot discriminate, the changeset is no longer small and this
    falls back to the plain :func:`merge_upsert`) and the target is
    split map-only (:func:`~.bloomjoin.bloom_split`):

    - bloom-MISS rows are *guaranteed* keyless in the source (no false
      negatives), so they bypass the join and union straight into the
      output unchanged — no shuffle, no sort, no join state;
    - bloom-HIT rows (true matches + the measured false-positive
      fraction) go through the ordinary :func:`merge_upsert`, whose
      exact ``eqNullSafe`` join discards the false positives by
      keeping those rows unchanged.

    So the merge join shuffles ~(|changeset keys| + fp·|target|) rows
    instead of |target| — the same find-touched-rows idea Delta's
    MERGE applies at file granularity, applied at row granularity and
    engine-portable. The target is READ TWICE (hit + miss branch),
    both map-only; at scale two scans that shuffle 0.1% beat one scan
    that shuffles 100%. That trade assumes the target is a (cheap,
    prunable) table scan — the CDC shape, and what ``IngestorCDC``
    passes; a target that is itself an expensive derived frame should
    be persisted first or merged with plain :func:`merge_upsert`. With ``delete_missing=True`` the miss branch
    is DROPPED instead of unioned (those keys are provably absent from
    the source — exactly the rows full-sync deletes).

    Eager by design: building the filter runs one Spark job over the
    (small) changeset before the returned plan exists — the same
    probe-then-plan shape as ``merge_upsert_partitioned``. A DERIVED
    changeset (plan contains a join/agg/window/explode) is cached once
    via ``materialize_if_derived`` so the sizing probe, mask collect
    and final merge join don't re-run it; the cache is adopted onto
    the returned frame (callers release after acting — IngestorCDC and
    merge_upsert_partitioned do). Multi-col
    and null keys are handled via a null-safe composite key string
    (:func:`_composite_key`). Plan property (tests/test_plans.py): the
    merge join's target-side Exchange sits ABOVE the constant-folded
    bloom Filter, and the miss branch reaches the Union with no
    Exchange at all.
    """
    from .. import caching
    from .bloomjoin import (
        bloom_build,
        bloom_mask_array,
        bloom_split,
        materialize_if_derived,
        resolve_auto_m_bits,
    )

    # evolve BEFORE the split so the bypass branch carries the new
    # columns too (same additive-only rule as merge_upsert), and
    # refuse a column mismatch before the changeset is cached
    if evolve_schema:
        target = _evolve(target, source)
    _require_same_columns(
        target.columns, source.columns, "merge_upsert_bloomed"
    )
    # a derived changeset (the build side here) is referenced by the
    # sizing probe, the mask collect, AND the final merge join —
    # materialize it once; scan-shaped changesets stay uncached
    # (VERDICT r8 ask #6, same policy as bloom_filtered_join)
    source, src_cache = materialize_if_derived(source)

    def _owned(df: DataFrame) -> DataFrame:
        return caching.adopt(df, src_cache) if src_cache else df
    # the split stages the composite key as __mk__ and _folded_filter
    # stages the word list as __bf__; a real column by either name
    # would be silently clobbered and dropped from the merged output —
    # fail fast instead (the merge core and _dedup_source guard their
    # own staging names the same way).
    reserved = {"__mk__", "__bf__"}
    clash = reserved & (set(target.columns) | set(source.columns))
    if clash:
        raise ValueError(
            f"merge_upsert_bloomed: column(s) {sorted(clash)} collide "
            "with reserved staging names; rename them or use "
            "merge_upsert."
        )
    key_expr = _composite_key(keys)
    src_keys = source.select(key_expr.alias("__mk__"))
    if m_bits == "auto":
        # size the filter to the changeset's actual key count — a
        # fixed size saturates (fp -> 1) the day the changeset grows,
        # turning the "pruned" merge into two probe scans that shuffle
        # everything anyway. When even the largest foldable filter
        # can't discriminate, the changeset is no longer small relative
        # to the target and the PLAIN merge is the right plan.
        m_bits = resolve_auto_m_bits(
            src_keys, "__mk__", k, "merge_upsert_bloomed"
        )
        if m_bits is None:
            return _owned(merge_upsert(
                target, source, keys, ts_col, tiebreakers,
                evolve_schema=False, delete_missing=delete_missing,
            ))
    bloom = bloom_build(
        src_keys, "__mk__", m_bits=m_bits, k=k, family=family,
    )
    words = bloom_mask_array(bloom, m_bits=m_bits)
    staged = target.withColumn("__mk__", key_expr)
    hit, miss = bloom_split(staged, "__mk__", words, k=k, family=family)
    hit, miss = hit.drop("__mk__"), miss.drop("__mk__")
    merged = merge_upsert(
        hit, source, keys, ts_col, tiebreakers,
        evolve_schema=False, delete_missing=delete_missing,
    )
    if delete_missing:
        return _owned(merged)
    return _owned(merged.unionByName(miss.select(*merged.columns)))


def merge_upsert_delta(
    spark,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    tiebreakers: list[str] | None = None,
    delta_table=None,
    delete_missing: bool = False,
    evolve_schema: bool = False,
) -> None:
    """ACID MERGE into a Delta table — the capability path the
    reference runs on Databricks (``DeltaTable.merge`` with
    whenMatchedUpdateAll/whenNotMatchedInsertAll, reference
    lib/ingestors.py:113-126). Semantics match :func:`merge_upsert`
    exactly, including the two corrections:

    1. the join is on KEYS ONLY; the ts guard lives in the
       whenMatched condition (the reference's ts-in-ON treats stale
       rows as NOT MATCHED and re-inserts duplicate keys);
    2. the source is pre-deduped latest-wins with a stable tiebreaker
       (Delta requires a unique source match per target row);
    3. null ts ≡ -infinity on both sides (merge_upsert's documented
       rule): ``t.ts IS NULL OR (s.ts IS NOT NULL AND s.ts >= t.ts)``.

    ``delete_missing=True`` adds ``whenNotMatchedBySourceDelete()``
    (full-sync: target keys absent from the source are deleted) —
    parity with ``merge_upsert(delete_missing=True)``.

    ``evolve_schema=True`` calls ``withSchemaEvolution()`` on the
    merge builder (Delta ≥3.1's per-statement schema evolution):
    ADDITIVE source columns are appended to the target schema during
    the MERGE, existing rows reading NULL for them — exactly the
    contract of ``merge_upsert(evolve_schema=True)`` on the
    join-emulation path. Column REMOVALS still update the missing
    column to NULL via update-all semantics rather than dropping it,
    matching the emulated path's keep-and-null rule.

    Requires delta-spark; fails fast with ImportError otherwise
    (capability flag, SURVEY.md §7.4(3)). In-place and transactional —
    no staging swap, unchanged files are skipped via Delta's
    find-touched-files join.

    ``delta_table`` injects a DeltaTable-like object (same
    alias/merge/whenMatched*/execute builder surface) so the MERGE
    condition/clause construction is contract-testable in
    environments without delta-spark; production callers leave it
    None and get ``DeltaTable.forPath``.
    """
    if delta_table is None:
        from ..catalog import delta_available

        if not delta_available():
            raise ImportError(
                "merge_upsert_delta requires the delta-spark package; "
                "use merge_upsert (join-emulation) + Catalog.overwrite_"
                "via_staging on parquet-only clusters."
            )
        from delta.tables import DeltaTable  # type: ignore

        delta_table = DeltaTable.forPath(spark, target_path)

    src = _dedup_source(source, keys, ts_col, tiebreakers)
    dt = delta_table
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    m = dt.alias("t").merge(src.alias("s"), on)
    if evolve_schema:
        m = m.withSchemaEvolution()
    if ts_col is not None:
        m = m.whenMatchedUpdateAll(
            condition=(
                f"t.{ts_col} IS NULL OR "
                f"(s.{ts_col} IS NOT NULL AND s.{ts_col} >= t.{ts_col})"
            )
        )
    else:
        m = m.whenMatchedUpdateAll()
    m = m.whenNotMatchedInsertAll()
    if delete_missing:
        m = m.whenNotMatchedBySourceDelete()
    m.execute()


def merge_upsert_partitioned(
    catalog,
    table: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | list[str],
    ts_col: str | None = None,
    tiebreakers: list[str] | None = None,
    max_partitions: int = 10_000,
    bloom: bool = False,
    bloom_m_bits: int | str = "auto",
    bloom_k: int = 3,
    bloom_family: str = "native",
) -> list:
    """Partition-scoped CDC merge — the 100 TB upgrade over a
    whole-table rewrite (SURVEY.md §7.4(8); Delta's ``replaceWhere``
    analogue).

    ``bloom=True`` composes BOTH pruning levels of the 100 TB CDC
    story (each existed separately before): partition pruning keeps
    untouched partitions' FILES out of the merge entirely (never read,
    never rewritten — byte-identical on disk), and within the touched
    partitions :func:`merge_upsert_bloomed` keeps guaranteed-miss ROWS
    out of the merge join's shuffle (they still rewrite — a partition
    rewrite replaces the whole directory — but via the map-only bloom
    bypass branch, never sorted/shuffled/joined). A changeset touching
    3 of 3,000 date partitions and 1% of the rows inside them merges
    with ~0.1% of the table's rows ever crossing an Exchange. The
    filter is sized from the changeset (``bloom_m_bits="auto"``) and
    degrades to the plain slice merge when it cannot discriminate —
    same contract as :func:`merge_upsert_bloomed`.

    Requires the merge keys to determine the partition (true for
    date-partitioned CDC feeds where the partition column is part of
    the key, e.g. (symbol, date) keyed prices partitioned by date —
    reference silver/prices/prices.yml:6,17). ``partition_col`` may be
    a LIST for hierarchically partitioned tables (date, region — the
    realistic 100 TB CDC layout); every member must be a merge key
    (same reason: a key's row must not move between partitions), the
    touched set is the distinct TUPLES, and pruning applies at every
    directory level — an untouched (date, region) leaf under a touched
    date is never read or rewritten. The shared driver
    (merge_clauses ``_merge_partitions``) probes the changeset's
    distinct partition values/tuples (bounded by ``max_partitions``:
    a mistaken high-cardinality column fails fast instead of shipping
    a corpus-sized list to the driver; NULL partition values fail
    fast too, since ``IN``/``=`` never match them), reads ONLY those
    partitions of the target, merges that slice, and rewrites only
    those leaf directories. A table that does not exist yet is created
    from the source, deduped latest-wins on the keys like every later
    batch.

    Returns the list of touched partition values (tuples when
    ``partition_col`` is a list).
    """
    pcols = (
        [partition_col]
        if isinstance(partition_col, str)
        else list(partition_col)
    )
    missing = [c for c in pcols if c not in keys]
    if missing:
        raise ValueError(
            "partition-scoped merge requires every partition column to "
            f"be part of the merge keys; got partition_col={pcols!r} "
            f"keys={keys} (not keys: {missing})"
        )

    def merge_slice(target_slice: DataFrame) -> DataFrame:
        src = source.select(*target_slice.columns)
        if bloom:
            return merge_upsert_bloomed(
                target_slice, src, keys, ts_col, tiebreakers,
                m_bits=bloom_m_bits, k=bloom_k, family=bloom_family,
            )
        return merge_upsert(target_slice, src, keys, ts_col, tiebreakers)

    touched = _merge_partitions(
        catalog, table, source, pcols, merge_slice, max_partitions,
        bootstrap=_dedup_source(source, keys, ts_col, tiebreakers),
    )
    return [t[0] for t in touched] if len(pcols) == 1 else touched
