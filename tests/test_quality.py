"""DQ engine tests — fixture shapes per FIXTURES.md A3 (prices-like
table with one row failing each declared check)."""

import pytest
from pyspark.sql import functions as F

from mydatalake_spark.catalog import Catalog
from mydatalake_spark.quality import CheckRunner, TableCheck, annotate
from mydatalake_spark.quality.checks import build_check, specs_from_meta
from mydatalake_spark.quality.runner import AGG_KEYS
from mydatalake_spark.schema import parse_table_meta

PRICES_META = {
    "catalog": "silver",
    "schema": "brapi",
    "table_name": "prices",
    # reference uses 'schema:' as the field-list key (silver/prices/prices.yml)
    "schema": [
        {
            "name": "symbol", "type": "string", "key": True,
            "mandate": "global_required",
            "tests": [
                {"test_type": "missing"},
                {"test_type": "duplicated"},
                {"test_type": "type_mismatch"},
            ],
        },
        {
            "name": "date", "type": "date", "key": True,
            "date_predicate": True, "mandate": "global_required",
            "tests": [
                {"test_type": "missing"},
                {"test_type": "outdated", "kwargs": {"threshold": 15}},
            ],
        },
        {
            "name": "high", "type": "float", "mandate": "global_required",
            "tests": [
                {"test_type": "outside_of_rules", "test_name": "high >= low",
                 "kwargs": {"expression": "high >= low"}},
            ],
        },
        {
            "name": "low", "type": "float", "mandate": "global_required",
            "tests": [],
        },
        {
            "name": "volume", "type": "long", "mandate": "local_required",
            "tests": [
                {"test_type": "outside_of_rules", "test_name": "volume >= 10000",
                 "kwargs": {"expression": "volume >= 10000"}},
            ],
        },
        {
            "name": "currency", "type": "string", "mandate": "local_optional",
            "tests": [
                {"test_type": "not_in_list",
                 "kwargs": {"expected_values": ["USD", "BRL"]}},
                {"test_type": "pattern_mismatch",
                 "kwargs": {"pattern": "^[A-Z]{3}$"}},
            ],
        },
    ],
}

ROWS = [
    # symbol, date,          high, low,  volume, currency
    ("AAPL", "2026-08-10", 10.0, 9.0, 20000, "USD"),    # clean
    (None,   "2026-08-10", 10.0, 9.0, 20000, "USD"),    # missing symbol
    ("DUP",  "2026-08-10", 10.0, 9.0, 20000, "BRL"),    # dup pair …
    ("DUP",  "2026-08-09", 10.0, 9.0, 20000, "brl "),   # … same symbol twice
    ("OLD",  "2020-01-01", 10.0, 9.0, 20000, "USD"),    # outdated
    ("BADR", "2026-08-10", 5.0, 9.0, 20000, "USD"),     # high < low
    ("LOWV", "2026-08-10", 10.0, 9.0, 500, "USD"),      # volume < 10000
    ("BADC", "2026-08-10", 10.0, 9.0, 20000, "xx"),     # bad currency + pattern
]

AS_OF = "2026-08-13"


@pytest.fixture(scope="module")
def prices(spark):
    df = spark.createDataFrame(
        ROWS, "symbol string, date string, high float, low float, "
              "volume long, currency string"
    )
    return df.withColumn("date", F.to_date("date"))


@pytest.fixture(scope="module")
def results(prices):
    meta = parse_table_meta(PRICES_META)
    return annotate(
        prices, specs_from_meta(meta), meta.key_columns,
        run_date=AS_OF, as_of=AS_OF,
    ).cache()


def _failed(results, test_type, test_name=None):
    df = results.filter(F.col("test_type") == test_type)
    if test_name:
        df = df.filter(F.col("test_name") == test_name)
    return {r.df_key for r in df.filter("check_result = 'failed'").collect()}


def test_row_count_is_rows_times_tests(results, prices):
    meta = parse_table_meta(PRICES_META)
    n_tests = len(specs_from_meta(meta))
    assert results.count() == prices.count() * n_tests


def test_missing(results):
    # concat_ws skips nulls (reference lib/checker.py:98 same behavior),
    # so the null-symbol row's composite key is just the date part.
    assert _failed(results, "missing") == {"2026-08-10"}


def test_duplicated(results):
    # second occurrence of symbol DUP (ordered by df_key) fails
    assert _failed(results, "duplicated") == {"DUP_2026-08-10"}


def test_outdated(results):
    assert _failed(results, "outdated") == {"OLD_2020-01-01"}


def test_rules(results):
    assert _failed(results, "outside_of_rules", "high >= low") == {"BADR_2026-08-10"}
    assert _failed(results, "outside_of_rules", "volume >= 10000") == {"LOWV_2026-08-10"}


def test_not_in_list_normalizes(results):
    # 'brl ' passes after lower+trim; 'xx' fails
    assert _failed(results, "not_in_list") == {"BADC_2026-08-10"}


def test_pattern(results):
    # 'xx' and 'brl ' both violate ^[A-Z]{3}$ (pattern check does NOT
    # normalize, unlike not_in_list — reference behavior)
    assert _failed(results, "pattern_mismatch") == {
        "BADC_2026-08-10", "DUP_2026-08-09"
    }


def test_type_mismatch_on_cast(spark):
    df = spark.createDataFrame(
        [("1", "1.5"), ("2", "oops")], "id string, px string"
    )
    out = annotate(
        df,
        [{"column": "px", "test_type": "type_mismatch", "type": "double"}],
        ["id"], run_date=AS_OF,
    )
    failed = {r.df_key for r in out.filter("check_result='failed'").collect()}
    assert failed == {"2"}


def test_unknown_check_raises():
    with pytest.raises(ValueError, match="Unsupported expectation type"):
        build_check("nonsense", "c")


def test_runner_end_to_end(spark, prices, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    meta = parse_table_meta(PRICES_META)
    runner = CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF)
    agg = runner.execute([TableCheck(df=prices, meta=meta, layer="silver")])

    # results table persisted, partitioned by run_date
    saved = cat.read("silver.checks.column_checks")
    assert saved.count() == prices.count() * len(specs_from_meta(meta))

    # aggregation: one row per (test_name, table, type, layer, run_date, mandate)
    rows = {r.test_name: r for r in agg.collect()}
    m = rows["missing"]
    assert m.table_name == "prices" and m.layer == "silver"
    # 'missing' on symbol (global_required): two declarations share
    # test_name 'missing' but different columns — both under same mandate
    assert m.columns_checked == m.passing_cols + m.failing_cols

    # history upsert: run twice → same key set, no duplicates
    runner.execute([TableCheck(df=prices, meta=meta, layer="silver")])
    hist = cat.read("silver.checks.aggregated_checks")
    assert hist.count() == agg.count()


def test_runner_history_accumulates_new_run_dates(spark, prices, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh2"))
    meta = parse_table_meta(PRICES_META)
    r1 = CheckRunner(spark, cat, run_date="2026-08-12", as_of=AS_OF)
    a1 = r1.execute([TableCheck(df=prices, meta=meta)])
    r2 = CheckRunner(spark, cat, run_date="2026-08-13", as_of=AS_OF)
    a2 = r2.execute([TableCheck(df=prices, meta=meta)])
    hist = cat.read("silver.checks.aggregated_checks")
    assert hist.count() == a1.count() + a2.count()


def test_outlier_check_flags_tail_and_ignores_constant(spark):
    """Corpus-relative outlier check (Q-extension): an extreme value
    fails, the bulk passes, and a constant column (stddev 0) flags
    NOTHING — degenerate stats must not fail every row."""
    from mydatalake_spark.quality.checks import annotate

    rows = [(i, float(i % 5), 7.0) for i in range(50)] + [(99, 1000.0, 7.0)]
    df = spark.createDataFrame(rows, "id long, x double, c double")
    specs = [
        {"column": "x", "test_type": "outlier", "kwargs": {"k": 3.0}},
        {"column": "c", "test_type": "outlier", "kwargs": {"k": 3.0}},
    ]
    out = annotate(df, specs, ["id"], run_date="2026-01-01")
    got = {
        (r.df_key, r.column): r.check_result for r in out.collect()
    }
    assert got[("99", "x")] == "failed"           # the planted outlier
    assert got[("0", "x")] == "passed"
    assert all(v == "passed" for (k, c), v in got.items() if c == "c")
    # long format intact: one row per (record x test)
    assert len(got) == 51 * 2


def test_foreign_key_check_flags_orphans(spark):
    from mydatalake_spark.quality.checks import annotate

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = annotate(
        child,
        [{"column": "fk", "test_type": "foreign_key",
          "kwargs": {"parent": "p", "parent_key": "pk"}}],
        ["id"],
        run_date="2026-01-01",
        fk_parents={"p": parent},
    )
    got = {r.df_key: r.check_result for r in out.collect()}
    # 99 is an orphan; NULL fk passes (presence is the missing check's job)
    assert got == {"1": "passed", "2": "passed", "3": "failed", "4": "passed"}


def test_foreign_key_check_requires_parent(spark):
    import pytest as _pytest

    from mydatalake_spark.quality.checks import annotate

    child = spark.createDataFrame([(1, 10)], "id long, fk long")
    spec = [{"column": "fk", "test_type": "foreign_key",
             "kwargs": {"parent": "p", "parent_key": "pk"}}]
    with _pytest.raises(ValueError, match="not supplied"):
        annotate(child, spec, ["id"], fk_parents={})
    with _pytest.raises(ValueError, match="parent_key"):
        annotate(child, [{"column": "fk", "test_type": "foreign_key"}],
                 ["id"], fk_parents={})


def test_foreign_key_shares_the_single_pass(spark):
    """fk + missing + rule checks in one annotate: one result row per
    (record x test), and the fk join does not duplicate records."""
    from mydatalake_spark.quality.checks import annotate

    child = spark.createDataFrame(
        [(1, 10, "a"), (2, 77, None)], "id long, fk long, s string"
    )
    parent = spark.createDataFrame([(10,), (10,)], "pk long")  # dup parent keys
    out = annotate(
        child,
        [
            {"column": "fk", "test_type": "foreign_key",
             "kwargs": {"parent": "p", "parent_key": "pk"}},
            {"column": "s", "test_type": "missing"},
        ],
        ["id"],
        fk_parents={"p": parent},
    ).collect()
    assert len(out) == 4  # 2 records x 2 tests — distinct() absorbed dup pks
    got = {(r.df_key, r.test_type): r.check_result for r in out}
    assert got[("1", "foreign_key")] == "passed"
    assert got[("2", "foreign_key")] == "failed"
    assert got[("2", "missing")] == "failed"


def test_runner_annotates_each_row_once(spark, prices, tmp_path):
    """The results write and the score rollup share one pass: every
    checked row is computed once per run, not once for the write and
    again for the aggregate."""
    reads = spark.sparkContext.accumulator(0)

    def counted(x):
        reads.add(1)
        return x

    counted_udf = F.udf(counted, "string")
    checked = prices.withColumn("symbol", counted_udf("symbol"))
    cat = Catalog(spark, str(tmp_path / "wh"))
    meta = parse_table_meta(PRICES_META)
    CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF).execute(
        [TableCheck(df=checked, meta=meta)]
    )
    assert reads.value == prices.count()


def test_duplicated_check_keeps_one_wave_of_tasks(spark, prices):
    """The long-format frame of a `duplicated` check keeps one wave of
    tasks (the shuffle width, capped at the default parallelism)
    instead of AQE's one-partition coalesce of a small shuffle (the
    explode multiplies rows after the exchange)."""
    out = annotate(
        prices,
        [{"column": "symbol", "test_type": "duplicated"},
         {"column": "currency", "test_type": "missing"}],
        ["symbol", "date"],
    )
    width = min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                spark.sparkContext.defaultParallelism)
    assert width > 1
    assert out.rdd.getNumPartitions() == width
    assert out.count() == 2 * prices.count()


def test_rollup_equals_group_by_over_checked_lineage(spark, prices, tmp_path):
    """The rollup grouped from the saved results table equals the
    reference's GROUP BY over the results lineage, columns and types
    included: two checked tables in one run, a null mandate, an empty
    table (no rows, so no groups) and the default run_date."""
    silver = parse_table_meta(PRICES_META)
    silver.columns[4].mandate = None  # volume's rule check
    gold = parse_table_meta({**PRICES_META, "table_name": "prices_gold"})
    empty = parse_table_meta({**PRICES_META, "table_name": "nothing"})
    checks = [
        TableCheck(df=prices, meta=silver),
        TableCheck(df=prices.limit(5), meta=gold, layer="gold"),
        TableCheck(df=prices.limit(0), meta=empty),
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = CheckRunner(spark, cat, as_of=AS_OF)
    agg = runner.execute(checks)

    expected = runner.compile_results(checks).groupBy(*AGG_KEYS).agg(
        F.avg("check_score").alias("total_score"),
        F.count(F.lit(1)).alias("columns_checked"),
        F.sum(F.when(F.col("check_result") == "passed", 1).otherwise(0))
        .alias("passing_cols"),
        F.sum(F.when(F.col("check_result") == "passed", 0).otherwise(1))
        .alias("failing_cols"),
    )
    assert agg.dtypes == expected.dtypes
    got = sorted(agg.collect(), key=repr)
    assert got == sorted(expected.collect(), key=repr)
    assert {r.table_name for r in got} == {"prices", "prices_gold"}
    assert any(r.mandate is None for r in got)
    assert {r.run_date for r in got} == {
        spark.sql("SELECT current_date()").first()[0]
    }


def test_runner_run_of_empty_tables_rolls_up_nothing(spark, prices, tmp_path):
    """A run whose tables have no rows saves no results file; its
    rollup is empty, run after run, instead of failing to read the
    results table back."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF)
    check = TableCheck(df=prices.limit(0), meta=parse_table_meta(PRICES_META))
    for _ in range(2):
        agg = runner.execute([check])
        assert agg.count() == 0
        assert "total_score" in agg.columns


def test_runner_never_reads_the_results_table_back(
    spark, prices, tmp_path, monkeypatch
):
    """The rollup comes from the counts observed on the results write:
    a run loads the history table it upserts, never the results table
    it just wrote."""
    from pyspark.sql.readwriter import DataFrameReader

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF)
    check = TableCheck(df=prices, meta=parse_table_meta(PRICES_META))
    loaded = []
    real_load = DataFrameReader.load

    def load(self, path=None, *a, **k):
        loaded.append(path)
        return real_load(self, path, *a, **k)

    monkeypatch.setattr(DataFrameReader, "load", load)
    for _ in range(2):
        runner.execute([check])
    monkeypatch.undo()
    assert cat.path(runner.results_table) not in loaded
    assert cat.path(runner.history_table) in loaded


def test_history_upsert_does_not_shuffle_the_history(
    spark, prices, tmp_path, monkeypatch
):
    """The history write's plan has no exchange but the rollup's
    broadcast: the history side is read and written without a
    shuffle."""
    import re

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF)
    check = TableCheck(df=prices, meta=parse_table_meta(PRICES_META))
    runner.execute([check])
    plans = []
    real = cat.overwrite_via_staging

    def capture(df, full_name, *a, **k):
        if full_name == runner.history_table:
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, full_name, *a, **k)

    monkeypatch.setattr(cat, "overwrite_via_staging", capture)
    runner.execute([TableCheck(df=prices, meta=parse_table_meta(PRICES_META),
                               layer="gold")])
    (plan,) = plans
    assert set(re.findall(r"(\w*)Exchange\b", plan)) == {"Broadcast"}
    hist = cat.read(runner.history_table)
    assert hist.count() == 2 * hist.where("layer = 'gold'").count()


def test_rerun_on_the_same_run_date_replaces_its_history_rows(
    spark, prices, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF)
    meta = parse_table_meta(PRICES_META)
    first = runner.execute([TableCheck(df=prices, meta=meta)]).collect()
    fixed = prices.where(F.col("symbol").isNotNull())
    second = runner.execute([TableCheck(df=fixed, meta=meta)]).collect()
    hist = cat.read(runner.history_table).collect()
    assert len(hist) == len(first) == len(second)
    assert sorted(hist, key=repr) == sorted(second, key=repr)
    assert sorted(second, key=repr) != sorted(first, key=repr)


def test_rollup_of_the_saved_results_equals_the_observed_rollup(
    spark, prices, tmp_path
):
    """The rollup a Delta catalog's run groups from the saved results
    table (it attaches no observations) equals the observed one, types
    included."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = CheckRunner(spark, cat, run_date=AS_OF, as_of=AS_OF)
    meta = parse_table_meta(PRICES_META)
    meta.columns[4].mandate = None
    checks = [TableCheck(df=prices, meta=meta),
              TableCheck(df=prices.limit(3), meta=meta, layer="gold")]
    observed = runner.execute(checks)
    saved = runner.aggregate_results(checks, None)
    assert saved.dtypes == observed.dtypes
    assert sorted(saved.collect(), key=repr) == sorted(
        observed.collect(), key=repr
    )
