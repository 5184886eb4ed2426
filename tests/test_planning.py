"""Stats-driven planning (planning.py): fresh ANALYZE output feeds
bloom sizing and broadcast choices without probe jobs; stale stats
always fall back to the probe — never silently used."""

import pytest
from pyspark.sql import functions as F

from mydatalake_spark.catalog import Catalog
from mydatalake_spark.operators.bloomjoin import resolve_auto_m_bits
from mydatalake_spark.planning import (
    bloom_join_with_stats,
    broadcast_if_small,
    fresh_ndv,
    fresh_row_count,
)

TBL = "silver.dim.customers"


def _seed(spark, cat, n=500):
    df = spark.range(n).select(
        F.col("id").alias("cust_id"),
        (F.col("id") % 7).cast("string").alias("segment"),
    )
    cat.overwrite(df, TBL)
    return df


def test_fresh_ndv_lifecycle(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    # never analyzed → None (run the probe)
    assert fresh_ndv(cat, TBL, "cust_id") is None
    cat.analyze(TBL)
    ndv = fresh_ndv(cat, TBL, "cust_id")
    assert ndv is not None and 450 <= ndv <= 550  # HLL ~2% error
    assert fresh_row_count(cat, TBL) == 500
    # unknown column → None
    assert fresh_ndv(cat, TBL, "nope") is None
    # a write flips the fingerprint → stats STALE → None again
    cat.append(
        spark.createDataFrame([(999999, "9")], "cust_id long, segment string"),
        TBL,
    )
    assert fresh_ndv(cat, TBL, "cust_id") is None
    assert fresh_row_count(cat, TBL) is None


def test_hint_skips_the_sizing_job_entirely(spark):
    # the build frame raises if ever evaluated; with a hint the sizing
    # path must not touch it
    poisoned = spark.range(10).select(
        F.raise_error(F.lit("sizing job ran")).alias("k")
    )
    m = resolve_auto_m_bits(poisoned, "k", 3, "test", n_keys_hint=1000)
    assert m is not None and m >= 1 << 13
    # and the hint feeds the same give-up policy as the probe
    assert (
        resolve_auto_m_bits(
            poisoned, "k", 3, "test", n_keys_hint=10**9
        )
        is None
    )


def test_bloom_join_with_stats_matches_plain_join(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, n=50)
    cat.analyze(TBL)
    probe = spark.range(2000).select(
        F.col("id").alias("cust_id"),
        (F.col("id") * 2).alias("amount"),
    )
    got = bloom_join_with_stats(cat, probe, TBL, "cust_id")
    want = probe.join(cat.read(TBL), "cust_id")
    assert got.count() == want.count() == 50
    # the probe-side Exchange reads post-prune rows (the bloom mask
    # made it into the plan)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "bloom" in plan.lower() or "pmod" in plan.lower()


def test_broadcast_if_small_hints_and_large_does_not(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, n=100)
    fact = spark.range(1000).select(F.col("id").alias("cust_id"))
    small = broadcast_if_small(cat, TBL)  # ~KBs, under any threshold
    plan = (
        fact.join(small, "cust_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # with an impossible threshold the hint is NOT added
    big = broadcast_if_small(cat, TBL, max_bytes=1)
    # hint absence: the logical plan carries no ResolvedHint
    logical = big._jdf.queryExecution().logical().toString()
    assert "hint" not in logical.lower()


def test_touched_partitions_from_layout_metadata_only(spark, tmp_path):
    """The touched set comes from leaf DIRECTORY names, typed via the
    read schema (schema resolution touches parquet footers — the
    merge resolves the same schema anyway; the point is that no
    changeset-wide distinct JOB runs, pinned in the next test)."""
    from mydatalake_spark.planning import touched_partitions_from_layout

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.lit(1.0).alias("v"),
    )
    cat.overwrite(df, "bronze.s.chg", partition_by=["bucket"])
    got = touched_partitions_from_layout(cat, "bronze.s.chg", ["bucket"])
    assert got is not None and sorted(got) == [(0,), (1,), (2,)]
    # typed: int partition values, not dirname strings
    assert all(isinstance(t[0], int) for t in got)
    # non-catalog / unpartitioned / non-covering layouts -> None
    assert touched_partitions_from_layout(cat, "no.such.tbl", ["b"]) is None
    cat.overwrite(df, "bronze.s.flat")
    assert (
        touched_partitions_from_layout(cat, "bronze.s.flat", ["bucket"])
        is None
    )
    # leaf count over the bound -> None (the probe owns the refusal)
    assert (
        touched_partitions_from_layout(
            cat, "bronze.s.chg", ["bucket"], max_partitions=2
        )
        is None
    )


def test_merge_sql_skips_partition_probe_with_layout_hint(
    spark, tmp_path, monkeypatch
):
    """SQL MERGE USING a partitioned catalog table: the touched set is
    derived from the source's leaves and the distinct-partitions probe
    JOB never runs — proven by poisoning DataFrame.distinct (the probe
    is its only call site on this path) and watching the merge still
    complete. The un-hinted path (USING a subquery) calls it."""
    from mydatalake_spark.plans.table_sql import run_table_sql

    # patch the CONCRETE frame class (pyspark 4's pyspark.sql.DataFrame
    # is an ABC whose subclass overrides distinct)
    DataFrame = type(spark.range(1))

    cat = Catalog(spark, str(tmp_path / "wh"))
    tgt = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("bucket"),
        F.lit(1.0).alias("v"),
    )
    chg = spark.range(10).select(
        (F.col("id") * 4).alias("k"),   # bucket 0 only
        F.lit(0).cast("int").alias("bucket"),
        F.lit(9.0).alias("v"),
    )
    cat.overwrite(chg, "bronze.s.chg", partition_by=["bucket"])
    real_distinct = DataFrame.distinct

    def poisoned(self):
        raise AssertionError("distinct-partitions probe job ran")

    for clauses in (
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED AND s.v > 100 THEN INSERT (k, bucket, v) "
        "VALUES (s.k, s.bucket, s.v)",
        # the canonical upsert shape takes the same driver and hint
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ):
        cat.overwrite(tgt, "silver.s.t", partition_by=["bucket"])
        monkeypatch.setattr(DataFrame, "distinct", poisoned)
        # hint path: must not call distinct
        run_table_sql(
            cat,
            "MERGE INTO silver.s.t t USING bronze.s.chg s "
            "ON t.k = s.k AND t.bucket = s.bucket " + clauses,
        )
        monkeypatch.setattr(DataFrame, "distinct", real_distinct)
        got = {r.k: r.v for r in cat.read("silver.s.t").collect()}
        assert got[0] == 9.0 and got[4] == 9.0 and got[1] == 1.0
        assert len(got) == 40
    # the subquery spelling has no layout to read -> probe runs
    monkeypatch.setattr(DataFrame, "distinct", poisoned)
    with pytest.raises(AssertionError, match="probe job ran"):
        run_table_sql(
            cat,
            "MERGE INTO silver.s.t t USING "
            "(SELECT k, bucket, v FROM bronze.s.chg) s "
            "ON t.k = s.k AND t.bucket = s.bucket "
            "WHEN MATCHED THEN UPDATE SET v = s.v",
        )
