"""dedup_latest / flag_duplicates / merge_upsert / asof_join / QUALIFY shim."""

import datetime as dt

from pyspark.sql import functions as F

from mydatalake_spark.operators import (
    asof_join,
    dedup_latest,
    flag_duplicates,
    merge_upsert,
)
from mydatalake_spark.plans.qualify import rewrite_qualify, run_sql


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_dedup_latest_latest_wins(spark):
    df = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T00:00:00"), 1),
            ("A", _ts("2024-01-03T00:00:00"), 2),
            ("A", _ts("2024-01-02T00:00:00"), 3),
            ("B", _ts("2024-01-01T00:00:00"), 4),
        ],
        "k string, ts timestamp, v int",
    )
    out = dedup_latest(df, ["k"], ["ts"], tiebreakers=["v"])
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {("A", 2), ("B", 4)}


def test_dedup_latest_tiebreaker_deterministic(spark):
    df = spark.createDataFrame(
        [("A", 1, 10), ("A", 1, 20), ("A", 1, 5)], "k string, ts int, v int"
    )
    out = dedup_latest(df, ["k"], ["ts"], tiebreakers=["v"])
    assert [r.v for r in out.collect()] == [5]


def test_flag_duplicates(spark):
    df = spark.createDataFrame(
        [("x",), ("x",), ("y",)], "c string"
    )
    out = flag_duplicates(df, ["c"])
    counts = out.groupBy("is_duplicate").count().collect()
    m = {r.is_duplicate: r["count"] for r in counts}
    assert m == {False: 2, True: 1}


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, _ts("2024-01-02T00:00:00"), "t1"),
         (2, _ts("2024-01-02T00:00:00"), "t2")],
        "id long, ts timestamp, v string",
    )
    source = spark.createDataFrame(
        [
            # newer → updates
            (1, _ts("2024-01-05T00:00:00"), "s1"),
            # STALE (ts < target) → must be ignored, NOT inserted.
            # The reference's ON-clause guard would insert a duplicate
            # here (reference lib/ingestors.py:123; SURVEY.md §7.4(2)).
            (2, _ts("2024-01-01T00:00:00"), "s2-stale"),
            # brand-new key → insert
            (3, _ts("2024-01-01T00:00:00"), "s3"),
        ],
        "id long, ts timestamp, v string",
    )
    out = merge_upsert(target, source, ["id"], "ts")
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, "s1"), (2, "t2"), (3, "s3")}
    assert out.count() == 3  # no duplicate for key 2


def test_merge_upsert_equal_ts_source_wins(spark):
    # reference semantics: new.ts >= old.ts → update
    target = spark.createDataFrame([(1, 10, "old")], "id long, ts int, v string")
    source = spark.createDataFrame([(1, 10, "new")], "id long, ts int, v string")
    out = merge_upsert(target, source, ["id"], "ts")
    assert [(r.id, r.v) for r in out.collect()] == [(1, "new")]


def test_merge_upsert_dedups_source(spark):
    target = spark.createDataFrame([(1, 1, "t")], "id long, ts int, v string")
    source = spark.createDataFrame(
        [(1, 5, "mid"), (1, 9, "latest"), (1, 2, "early")],
        "id long, ts int, v string",
    )
    out = merge_upsert(target, source, ["id"], "ts")
    assert [(r.id, r.v) for r in out.collect()] == [(1, "latest")]


def test_merge_upsert_no_ts_source_always_wins(spark):
    # 6-key equi-merge shape (reference lib/checker_handler.py:179-191)
    target = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "id long, v string")
    out = merge_upsert(target, source, ["id"])
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}


def test_qualify_rewrite_executes(spark):
    spark.createDataFrame(
        [("A", 1, 100), ("A", 2, 200), ("B", 1, 300)],
        "sym string, seq int, px int",
    ).createOrReplaceTempView("quotes")
    sql = (
        "SELECT sym, seq, px FROM quotes "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY sym ORDER BY seq DESC) = 1"
    )
    out = run_sql(spark, sql)
    got = {(r.sym, r.seq) for r in out.collect()}
    assert got == {("A", 2), ("B", 1)}
    assert "__qualify__" not in out.columns


def test_qualify_rewrite_preserves_plain_sql():
    assert rewrite_qualify("SELECT 1") == "SELECT 1"


def test_asof_join(spark):
    trades = spark.createDataFrame(
        [("A", 10, 1), ("A", 25, 2), ("B", 5, 3)],
        "sym string, t int, trade_id int",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 1.0), ("A", 10, 2.0), ("A", 20, 3.0), ("B", 9, 9.0)],
        "sym string, t int, px double",
    )
    out = asof_join(trades, quotes, ["sym"], "t", "t", ["px"])
    got = {(r.trade_id, r.px) for r in out.collect()}
    # trade A@10 matches quote A@10 (inclusive), A@25 → quote@20,
    # B@5 has no prior quote → null
    assert got == {(1, 2.0), (2, 3.0), (3, None)}


def test_asof_join_null_right_value_not_mixed_across_rows(spark):
    # The matched right row's nulls must come through as-is — filling
    # value columns independently would stitch a row that never
    # existed: (a=5, b=7) from two different right rows.
    left = spark.createDataFrame([("K", 3, 1)], "k string, t int, lid int")
    right = spark.createDataFrame(
        [("K", 1, 5, None), ("K", 2, None, 7)],
        "k string, t int, a int, b int",
    )
    out = asof_join(left, right, ["k"], "t", "t", ["a", "b"])
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    # matched row is (t=2, a=null, b=7) — a must stay null
    assert (r.a, r.b) == (None, 7), (r.a, r.b)


def test_merge_upsert_null_ts_is_minus_infinity(spark):
    target = spark.createDataFrame(
        [(1, "t1", 10), (2, "t2", None), (3, "t3", None)],
        "id int, v string, ts int",
    )
    source = spark.createDataFrame(
        [(1, "s1", None), (2, "s2", 5), (3, "s3", None)],
        "id int, v string, ts int",
    )
    out = merge_upsert(target, source, ["id"], "ts")
    got = {(r.id, r.v) for r in out.collect()}
    # null source ts loses to non-null target ts; null target ts loses
    # to any source row; null-vs-null ties go to the source (>=).
    assert got == {(1, "t1"), (2, "s2"), (3, "s3")}, got


def test_merge_upsert_equal_ts_duplicate_source_deterministic(spark):
    target = spark.createDataFrame([], "id int, v string, ts int")
    source_rows = [(1, "x", 5), (1, "y", 5), (1, "z", 5)]
    outs = set()
    for nparts in (1, 2, 3):
        source = spark.createDataFrame(
            source_rows, "id int, v string, ts int"
        ).repartition(nparts)
        out = merge_upsert(target, source, ["id"], "ts")
        rows = out.collect()
        assert len(rows) == 1
        outs.add(rows[0].v)
    # synthesized xxhash64 tiebreaker ⇒ same survivor for every layout
    assert len(outs) == 1, outs


def test_qualify_rewrite_raises_on_runaway_clauses():
    import pytest as _pytest

    runaway = "SELECT 1 QUALIFY true; " * 101
    with _pytest.raises(ValueError, match="QUALIFY"):
        rewrite_qualify(runaway)


def test_range_join_exact_pairs(spark):
    from datetime import datetime as DT

    from mydatalake_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 0, 1)),   # inside A
         (2, DT(2024, 1, 1, 0, 5)),   # == A.end (exclusive) -> out
         (3, DT(2024, 1, 1, 0, 0)),   # == A.start (inclusive) -> in
         (4, DT(2024, 1, 1, 2, 30)),  # inside B only
         (5, DT(2024, 1, 1, 9, 0))],  # nowhere
        "pid int, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [("A", DT(2024, 1, 1, 0, 0), DT(2024, 1, 1, 0, 5)),
         ("B", DT(2024, 1, 1, 2, 0), DT(2024, 1, 1, 3, 0))],
        "iid string, start_ts timestamp, end_ts timestamp",
    )
    out = range_join(points, intervals, "ts", "start_ts", "end_ts",
                     bin_width="5 minutes")
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == {(1, "A"), (3, "A"), (4, "B")}, got

    inc = range_join(points, intervals, "ts", "start_ts", "end_ts",
                     bin_width="1 hour", end_inclusive=True)
    got_inc = {(r.pid, r.iid) for r in inc.collect()}
    assert got_inc == {(1, "A"), (2, "A"), (3, "A"), (4, "B")}, got_inc


def test_range_join_overlapping_intervals_and_keys(spark):
    from datetime import datetime as DT

    from mydatalake_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, "u", DT(2024, 1, 1, 0, 2))],
        "pid int, k string, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [("A", "u", DT(2024, 1, 1, 0, 0), DT(2024, 1, 1, 0, 10)),
         ("B", "u", DT(2024, 1, 1, 0, 1), DT(2024, 1, 1, 0, 3)),
         ("C", "v", DT(2024, 1, 1, 0, 0), DT(2024, 1, 1, 0, 10))],
        "iid string, k string, start_ts timestamp, end_ts timestamp",
    )
    out = range_join(points, intervals, "ts", "start_ts", "end_ts",
                     bin_width="1 minute", on=["k"])
    # both overlapping same-key intervals match, exactly once each;
    # the other key's interval never pairs
    got = sorted((r.pid, r.iid) for r in out.collect())
    assert got == [(1, "A"), (1, "B")], got


def test_approx_distinct_check_bounds(spark):
    from mydatalake_spark.functions.sketches import approx_distinct_check

    df = spark.range(50_000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    ok = approx_distinct_check(df, ["g"], "v", rsd=0.05, tolerance=0.2)
    assert all(r.within_bound for r in ok.collect())
    # zero tolerance must FAIL once HLL leaves exact mode — the check
    # is falsifiable, not a rubber stamp
    strict = approx_distinct_check(df, ["g"], "v", rsd=0.05, tolerance=0.0)
    assert not all(r.within_bound for r in strict.collect())


def test_approx_quantile_check_rank_contract(spark):
    from mydatalake_spark.functions.sketches import approx_quantile_check

    df = spark.range(10_000).select(
        F.lit("a").alias("g"), (F.col("id") * 1.0).alias("v")
    )
    ok = approx_quantile_check(df, ["g"], "v", q=0.5, rank_eps=0.01)
    rows = ok.collect()
    assert rows[0].within_bound
    assert rows[0].exact_quantile == 4999.5


def test_merge_evolve_schema_additive(spark):
    """Delta mergeSchema analogue: a source batch ADDING a column
    merges cleanly (old rows get typed nulls), but a source DROPPING
    a column still fails loudly — silent field loss must not null
    updated rows."""
    from mydatalake_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "t1", 10), (2, "t2", 20)], "id int, v string, ts int"
    )
    source = spark.createDataFrame(
        [(1, "s1", 11, "NEW"), (3, "s3", 1, "N3")],
        "id int, v string, ts int, tag string",
    )
    got = {
        r.id: (r.v, r.tag)
        for r in merge_upsert(
            target, source, ["id"], "ts", evolve_schema=True
        ).collect()
    }
    assert got == {
        1: ("s1", "NEW"),      # updated, new column populated
        2: ("t2", None),       # untouched row: typed null
        3: ("s3", "N3"),       # inserted
    }

    # dropping a column is never silently accepted
    short = spark.createDataFrame([(9, 5)], "id int, ts int")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="identical columns"):
        merge_upsert(target, short, ["id"], "ts", evolve_schema=True)


def test_operator_caches_are_caller_releasable(spark):
    """winnow_pairs caches its exploded fingerprints past the return
    (three plan branches read it); caching.release(result) must
    unpersist exactly that intermediate so long-lived sessions don't
    leak storage memory (ADVICE r3)."""
    from pyspark import StorageLevel

    from mydatalake_spark.caching import _OWNED_ATTR, release
    from mydatalake_spark.operators.neardup import winnow_pairs

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 8)
         for i in range(6)],
        "doc_id long, text string",
    )
    pairs = winnow_pairs(df, min_shared=1)
    pairs.count()
    owned = getattr(pairs, _OWNED_ATTR)
    assert owned, "winnow_pairs should adopt its cached intermediate"
    assert owned[0].storageLevel != StorageLevel.NONE
    release(pairs)
    assert owned[0].storageLevel == StorageLevel.NONE
    release(pairs)  # idempotent


def test_profile_table_approx_estimates_within_rsd(spark):
    """approx=True n_distinct lands within the configured relative
    error of exact; all other stats (rows/nulls/min/max) are exact in
    both modes."""
    from mydatalake_spark.operators.profile import profile_table

    df = spark.range(5000).selectExpr(
        "id", "id % 40 AS a",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE CAST(id % 500 AS DOUBLE) END AS b",
    )
    exact = {r.column: r for r in profile_table(df, approx=False).collect()}
    approx = {r.column: r
              for r in profile_table(df, rsd=0.02).collect()}
    for c in ("id", "a", "b"):
        e, ap = exact[c], approx[c]
        assert (ap.n_rows, ap.n_null, ap.min_value, ap.max_value) == (
            e.n_rows, e.n_null, e.min_value, e.max_value
        )
        assert abs(ap.n_distinct - e.n_distinct) <= max(
            3, 0.1 * e.n_distinct
        ), (c, ap.n_distinct, e.n_distinct)


def test_merge_synthesized_tiebreaker_distinguishes_null_shifts(spark):
    """Equal-(key, ts) duplicate rows that differ ONLY by which column
    is null must pick the same survivor regardless of input order:
    the synthesized tiebreaker hashes the null-safe composite string,
    because xxhash64(*cols) skips null args and would give (null,'x')
    and ('x',null) the SAME tiebreaker — leaving the tie to partition
    order."""
    from mydatalake_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, 0, "old", "old")], "k long, ts long, a string, b string"
    )
    dup_rows = [(1, 5, None, "x"), (1, 5, "x", None)]
    survivors = set()
    for rows in (dup_rows, dup_rows[::-1]):
        src = spark.createDataFrame(
            rows, "k long, ts long, a string, b string"
        )
        out = merge_upsert(target, src, ["k"], "ts").collect()
        assert len(out) == 1
        survivors.add((out[0].a, out[0].b))
    assert len(survivors) == 1, survivors


def test_merge_upsert_builds_with_no_job(spark):
    """merge_upsert's deduped source has unique keys, so building the
    merge plan runs no Spark job (no duplicate-key probe)."""
    from mydatalake_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id int, v string, ts int"
    )
    source = spark.createDataFrame(
        [(1, "x", 2), (1, "y", 3), (3, "z", 1)], "id int, v string, ts int"
    )
    sc = spark.sparkContext
    sc.setJobGroup("merge-upsert-build", "merge-upsert-build")
    try:
        for ts_col in ("ts", None):
            for delete_missing in (False, True):
                merge_upsert(
                    target, source, ["id"], ts_col,
                    delete_missing=delete_missing,
                )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("merge-upsert-build")
    assert list(jobs) == []


def test_merge_upsert_guards_reserved_staging_names(spark):
    """A real column named like merge_upsert's staging columns
    (presence markers, synthesized tiebreaker, the '__s_' rename
    prefix) would be silently overwritten mid-merge — the guard
    turns that into a loud error."""
    import pytest

    from mydatalake_spark.operators.merge import merge_upsert

    for bad in ("__t_present__", "__s_present__", "__tb__", "__s_x"):
        t = spark.createDataFrame(
            [(1, "a", 1)], f"id int, `{bad}` string, ts int"
        )
        with pytest.raises(ValueError, match="reserved"):
            merge_upsert(t, t, ["id"], "ts")
