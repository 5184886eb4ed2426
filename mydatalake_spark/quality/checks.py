"""Declarative data-quality checks as pure Column expressions.

Reference parity: the seven ``Annotate_*`` check operators of
``lib/checker.py`` (reference lib/checker.py:134-275), each consuming
(DataFrame, column spec) and emitting the long-format result frame
``(df_key, test_type, mandate, column, test_name, run_date,
check_result, check_score)`` built by ``_build_result``
(reference lib/checker.py:107-132).

Architectural difference (SURVEY.md §4.2): the reference materializes
one result frame per test and union-folds them — n passes over the
table for n tests (partially shared by Catalyst). Here every check is
compiled to a boolean *failed* expression, all checks for a table are
packed into one ``array<struct>`` projection, and a single ``explode``
yields the long format: **one scan, one shuffle-free pass** (plus one
window per ``duplicated`` check, which Spark evaluates in the same
stage chain). At 100 TB that is the difference between reading the
table once and reading it seven times.

Each ``duplicated`` window's input is hash-partitioned on its column
to one wave of tasks: ``min(spark.sql.shuffle.partitions,
defaultParallelism)``. That repartition is the window's one exchange,
and since its partition count is given, AQE does not coalesce it.
Left to AQE, the narrow keyed rows of a small table coalesce to one
partition, and the explode — which multiplies rows by the number of
tests *after* the exchange — then produces and writes the whole
long-format frame in a single task. The cap at one wave keeps a small
table from writing one tiny file per shuffle partition when the
shuffle width is sized at 2-3x the cores: at width 32 on 4 cores, a
2k-record check pinned to the full width wrote 32 result files, and
writes 4 with the cap. A 2M-record table gets the 4 partitions AQE
chose for it anyway. The price: a table large enough for AQE to keep
more than one wave of partitions runs its windows in fewer, larger
tasks.

Deliberate bug fixes vs the reference (SURVEY.md §7.4(5)):
- ``not_in_list``: the reference passes a nested list to ``isin``
  (reference lib/checker.py:227) so every row fails; we splat values.
- ``pattern_mismatch``: the reference reads ``pattern`` from the top
  level (reference lib/checker.py:241) while YAML nests it under
  ``kwargs``; we read the nested path.
- missing-value sentinels (``['', '0.0']``,
  reference lib/checker.py:145) are configurable — treating the string
  ``'0.0'`` as missing silently flags legitimate zero prices.
- determinism: ``run_date`` / ``as_of`` are injectable instead of
  hard-wired ``today()`` (reference lib/checker.py:127, 187).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

DEFAULT_MISSING_SENTINELS = ["", "0.0"]

_RESULT_SCHEMA_COLS = [
    "df_key",
    "test_type",
    "mandate",
    "column",
    "test_name",
    "run_date",
    "check_result",
    "check_score",
]


def composite_key(key_cols: list[str]) -> Column:
    """``df_key`` = '_'-joined stringified key columns
    (reference lib/checker.py:98). At 100 TB prefer
    :func:`hashed_key` to bound row width (SURVEY.md §7.4(8)).

    DISPLAY KEY ONLY — not collision-free: concat_ws SKIPS null
    columns ((null,'x') == ('x',null) == ('x',)) and the separator
    admits injection (('a_b','c') == ('a','b_c')), both faithful to
    the reference's scheme. Anything that joins rows BY IDENTITY must
    use the raw key columns with null-safe equality (run_wap does) or
    merge.py's sentinel-escaped _composite_key."""
    return F.concat_ws("_", *[F.col(c).cast("string") for c in key_cols])


def hashed_key(key_cols: list[str]) -> Column:
    """64-bit stable record key — fixed-width alternative for wide
    composite keys at scale. Same caveat as :func:`composite_key`:
    xxhash64 SKIPS null arguments, so null-shifted key tuples
    ((null,'x') vs ('x',null)) collide structurally — display and
    bucketing use only, never identity joins."""
    return F.xxhash64(*[F.col(c).cast("string") for c in key_cols])


# --- failed-predicate builders (one per reference check) -------------

def failed_missing(column: str, sentinels: list[str] | None = None, **_: Any) -> Column:
    """Q1 (reference lib/checker.py:134-150): null or sentinel-valued."""
    sent = DEFAULT_MISSING_SENTINELS if sentinels is None else sentinels
    c = F.col(column)
    pred = c.isNull()
    if sent:
        pred = pred | c.cast("string").isin(*sent)
    return pred


def failed_duplicated(column: str, key_col: str = "df_key", **_: Any) -> Column:
    """Q2 (reference lib/checker.py:152-171): every row after the first
    occurrence of a value. Deterministic tie order via the record key."""
    w = Window.partitionBy(column).orderBy(F.col(key_col))
    return F.row_number().over(w) > F.lit(1)


def failed_outdated(
    column: str, threshold: int = 0, as_of: Column | str | None = None, **_: Any
) -> Column:
    """Q3 (reference lib/checker.py:173-192): date older than
    ``as_of - threshold`` days. ``as_of`` defaults to current_date but
    is injectable for reproducible runs."""
    anchor = F.current_date() if as_of is None else (
        F.to_date(F.lit(as_of)) if isinstance(as_of, str) else as_of
    )
    return F.col(column).cast("date") < F.date_sub(anchor, int(threshold))


def failed_outside_of_rules(column: str, expression: str = "", **_: Any) -> Column:
    """Q4 (reference lib/checker.py:195-211): null or violating the
    SQL rule the row must satisfy."""
    if not expression:
        raise ValueError("outside_of_rules requires an 'expression'")
    return F.col(column).isNull() | ~F.expr(expression)


def failed_not_in_list(
    column: str, expected_values: list[str] | None = None, **_: Any
) -> Column:
    """Q5 (reference lib/checker.py:214-231, nested-isin bug fixed):
    normalized value outside the expected set."""
    if not expected_values:
        raise ValueError("not_in_list requires 'expected_values'")
    normalized = [str(v).lower() for v in expected_values]
    return ~(F.lower(F.trim(F.col(column))).isin(*normalized))


def failed_pattern_mismatch(column: str, pattern: str = "", **_: Any) -> Column:
    """Q6 (reference lib/checker.py:233-254, kwarg path fixed):
    value does not match the regex."""
    if not pattern:
        raise ValueError("pattern_mismatch requires a 'pattern'")
    try:
        re.compile(pattern)
    except re.error as e:
        raise ValueError(f"invalid regex {pattern!r}: {e}") from None
    return ~F.col(column).rlike(pattern)


def failed_outlier(
    column: str, k: float = 3.0, **_: Any
) -> Column:
    """Q-extension (no reference analogue): corpus-relative outlier —
    value more than ``k`` standard deviations from the column mean.

    Unlike Q1-Q7 this check needs CORPUS statistics, which annotate()
    provides by computing one tiny stats aggregate over the table and
    broadcasting the single row back (columns ``__mean_{col}__`` /
    ``__std_{col}__``) — the check expression itself stays a pure
    row-local predicate, so the single-pass compilation is preserved
    (one stats pass + one check pass; a corpus-relative check cannot
    do better). Degenerate corpora (constant column, < 2 rows ⇒ null
    or zero stddev) flag nothing rather than everything.
    """
    m = F.col(f"__mean_{column}__")
    s = F.col(f"__std_{column}__")
    return (
        s.isNotNull()
        & (s > 0)
        & (F.abs(F.col(column).cast("double") - m) > F.lit(float(k)) * s)
    )


def failed_type_mismatch(column: str, expected_type: str = "string", **_: Any) -> Column:
    """Q7 (reference lib/checker.py:257-275): cast fails on a non-null
    value. Uses try_cast so the check is ANSI-mode safe (plain cast
    throws on malformed input under Spark 4 defaults)."""
    c = F.col(column)
    return c.try_cast(expected_type).isNull() & c.isNotNull()


def failed_foreign_key(column: str, hit_col: str) -> Column:
    """[extension] Referential integrity: a non-null child value with
    no match in the parent key set fails. Null children pass — FK
    semantics leave presence to the ``missing`` check, matching SQL's
    treatment of NULL foreign keys. The ``hit_col`` flag is attached
    by :func:`annotate` via a left join against the parent's distinct
    keys (the same auxiliary-frame seam as ``outlier``'s broadcast
    stats row): dim-sized parents broadcast, and AQE picks the
    strategy beyond that — the child table still scans once."""
    return F.col(column).isNotNull() & F.col(hit_col).isNull()


CHECKS = {
    "missing": failed_missing,
    "duplicated": failed_duplicated,
    "outdated": failed_outdated,
    "outside_of_rules": failed_outside_of_rules,
    "not_in_list": failed_not_in_list,
    "pattern_mismatch": failed_pattern_mismatch,
    "type_mismatch": failed_type_mismatch,
    "outlier": failed_outlier,
}


def build_check(test_type: str, column: str, declared_type: str = "string",
                **kwargs: Any) -> Column:
    """Dispatch a YAML test spec to its failed-predicate builder
    (reference lib/checker.py:286-306 registry + dispatch)."""
    try:
        fn = CHECKS[test_type]
    except KeyError:
        raise ValueError(f"Unsupported expectation type: {test_type}") from None
    if test_type == "type_mismatch":
        kwargs.setdefault("expected_type", declared_type)
    return fn(column, **kwargs)


def annotate(
    df: DataFrame,
    column_tests: list[dict[str, Any]],
    key_cols: list[str],
    run_date: str | None = None,
    as_of: str | None = None,
    missing_sentinels: list[str] | None = None,
    use_hashed_key: bool = False,
    fk_parents: dict[str, DataFrame] | None = None,
    keep_key_cols: bool = False,
    observation: Observation | None = None,
) -> DataFrame:
    """Compile every declared test into ONE pass over ``df``.

    ``column_tests``: flat specs ``{column, test_type, test_name?,
    mandate?, type?, kwargs?}`` — the shape ``get_column_tests``
    extracts from table YAML (reference lib/checker.py:58-104).

    Returns the reference's long format, one row per (record × test):
    ``df_key, test_type, mandate, column, test_name, run_date,
    check_result ('passed'|'failed'), check_score (1|0)``.

    ``keep_key_cols=True`` appends the RAW key columns (as
    ``__k_{col}__``) for callers that route rows by check outcome
    (run_wap): ``df_key`` is the reference's display key and is NOT
    collision-free — '_'-joining both skips nulls and admits separator
    injection (('a_b','c') == ('a','b_c')) — so identity joins must
    use the raw columns null-safely, never the string.

    ``observation``: observed on the wide frame (one row per record,
    after the ``duplicated`` windows, before the explode), so the first
    action over the result — the results write — also yields ``rows``
    (the record count), ``run_date`` and one ``failed_{i}`` count of
    failed records per test ``i`` of ``column_tests`` (a null flag
    counts as passed, as in ``check_result``). Without one the plan is
    unchanged.
    """
    if not key_cols:
        raise ValueError("No key column found in schema.")
    missing_keys = [c for c in key_cols if c not in df.columns]
    if missing_keys:
        raise ValueError(f"Key column(s) not found in DataFrame: {missing_keys}")

    # No manual column pruning needed: the final long-format projection
    # references only df_key + checked columns, and Catalyst pushes
    # that pruning through the window down to the scan (verified:
    # ReadSchema lists exactly the referenced columns).
    keyed = df.withColumn(
        "df_key",
        hashed_key(key_cols).cast("string") if use_hashed_key
        else composite_key(key_cols),
    )

    # Corpus-relative checks (outlier): one tiny stats aggregate over
    # the table, broadcast back as a single row. Adds exactly one
    # extra (column-pruned) scan; every other check stays in the
    # single main pass.
    outlier_cols = sorted({
        spec["column"] for spec in column_tests
        if spec["test_type"] == "outlier"
    })
    if outlier_cols:
        stats = df.agg(
            *[F.avg(F.col(c).cast("double")).alias(f"__mean_{c}__")
              for c in outlier_cols],
            *[F.stddev_samp(F.col(c).cast("double")).alias(f"__std_{c}__")
              for c in outlier_cols],
        )
        keyed = keyed.crossJoin(F.broadcast(stats))

    # Referential checks (foreign_key): one left join per distinct
    # (child column, parent, parent key) triple against the parent's
    # distinct keys — the relational analogue of the outlier stats
    # row. The child table still scans once; parent key sets are
    # dim-sized after distinct.
    fk_hit_cols: dict[tuple[str, str, str], str] = {}
    for spec in column_tests:
        if spec["test_type"] != "foreign_key":
            continue
        kw = dict(spec.get("kwargs", {}) or {})
        parent, parent_key = kw.get("parent"), kw.get("parent_key")
        if not parent or not parent_key:
            raise ValueError(
                "foreign_key check needs kwargs.parent and kwargs.parent_key"
            )
        if fk_parents is None or parent not in fk_parents:
            raise ValueError(
                f"foreign_key parent '{parent}' not supplied via fk_parents"
            )
        sig = (spec["column"], parent, parent_key)
        if sig not in fk_hit_cols:
            hit = f"__fk_hit_{len(fk_hit_cols)}__"
            pk = (
                fk_parents[parent]
                .select(F.col(parent_key).alias(spec["column"]))
                .distinct()
                .withColumn(hit, F.lit(True))
            )
            keyed = keyed.join(pk, spec["column"], "left")
            fk_hit_cols[sig] = hit

    # Stage 1: evaluate every failed-predicate as a plain boolean
    # column. Window expressions (the `duplicated` check) must resolve
    # at the top level of a projection — they cannot live inside the
    # exploded array below. The row-local flags come first, in one
    # projection, so the windows' exchanges ship booleans rather than
    # the checked columns; each window then runs over input pinned to
    # one wave of tasks (module docstring).
    spark = df.sparkSession
    width = min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                spark.sparkContext.defaultParallelism)
    flag_cols: list[str] = []
    flags: list[Column] = []
    windows: list[tuple[str, Column]] = []
    for i, spec in enumerate(column_tests):
        column = spec["column"]
        test_type = spec["test_type"]
        kw = dict(spec.get("kwargs", {}) or {})
        if test_type == "missing" and missing_sentinels is not None:
            kw.setdefault("sentinels", missing_sentinels)
        if test_type == "outdated" and as_of is not None:
            kw.setdefault("as_of", as_of)
        if test_type == "foreign_key":
            sig = (column, kw["parent"], kw["parent_key"])
            failed = failed_foreign_key(column, fk_hit_cols[sig])
        else:
            failed = build_check(
                test_type, column, declared_type=spec.get("type", "string"),
                **kw,
            )
        name = f"__failed_{i}__"
        flag_cols.append(name)
        if test_type == "duplicated":
            windows.append((column, failed.alias(name)))
        else:
            flags.append(failed.alias(name))
    keyed = keyed.select("*", *flags)
    for column, failed in windows:
        keyed = keyed.repartition(width, column).select("*", failed)

    # Stage 2: pack one struct per test and explode to long format.
    structs: list[Column] = []
    for i, spec in enumerate(column_tests):
        structs.append(
            F.struct(
                F.lit(spec["test_type"]).alias("test_type"),
                F.lit(spec.get("mandate", "")).alias("mandate"),
                F.lit(spec["column"]).alias("column"),
                F.lit(spec.get("test_name", spec["test_type"])).alias("test_name"),
                F.col(flag_cols[i]).alias("failed"),
            )
        )

    run_date_col = (
        F.current_date() if run_date is None else F.to_date(F.lit(run_date))
    )
    if observation is not None:
        keyed = keyed.observe(
            observation,
            F.count(F.lit(1)).alias("rows"),
            F.max(run_date_col).alias("run_date"),
            *[F.count_if(F.col(c)).alias(f"failed_{i}")
              for i, c in enumerate(flag_cols)],
        )
    key_carry = (
        [F.col(c).alias(f"__k_{c}__") for c in key_cols]
        if keep_key_cols else []
    )
    exploded = keyed.select(
        F.col("df_key"),
        *key_carry,
        run_date_col.alias("run_date"),
        F.explode(F.array(*structs)).alias("t"),
    )
    return exploded.select(
        "df_key",
        *[f"__k_{c}__" for c in (key_cols if keep_key_cols else [])],
        F.col("t.test_type").alias("test_type"),
        F.col("t.mandate").alias("mandate"),
        F.col("t.column").alias("column"),
        F.col("t.test_name").alias("test_name"),
        "run_date",
        F.when(F.col("t.failed"), F.lit("failed"))
        .otherwise(F.lit("passed")).alias("check_result"),
        F.when(F.col("t.failed"), F.lit(0))
        .otherwise(F.lit(1)).alias("check_score"),
    )


def specs_from_meta(meta) -> list[dict[str, Any]]:
    """TableMeta → flat test specs (reference lib/checker.py:58-90)."""
    out: list[dict[str, Any]] = []
    for col in meta.columns:
        for t in col.tests:
            out.append(
                {
                    "column": col.name,
                    "test_type": t.get("test_type"),
                    "test_name": t.get("test_name", t.get("test_type")),
                    "mandate": col.mandate,
                    "type": col.type,
                    "kwargs": t.get("kwargs", {}) or {},
                }
            )
    return out
