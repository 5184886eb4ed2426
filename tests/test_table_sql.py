"""SQL front-end for DML/DDL (plans/table_sql.py): the Databricks
statements a reference user writes, dispatched onto the engine's own
delete_where/update_where/truncate/constraints/restore/vacuum — with
hive partition layout auto-detected so SQL DML gets the pruned path."""

import pytest
from pyspark.errors import SparkRuntimeException

from mydatalake_spark.catalog import Catalog, _leaf_partition_files
from mydatalake_spark.plans.table_sql import (
    UnsupportedStatement,
    _detect_partition_cols,
    run_table_sql,
)

TBL = "silver.sales.orders"


def _seed(spark, cat, partitioned=False, keep_versions=0):
    df = spark.createDataFrame(
        [
            (1, "EU", 10.0, "x"),
            (2, "EU", 20.0, None),
            (3, "US", 30.0, "x"),
            (4, "US", 40.0, "y"),
            (5, "AP", 50.0, "x"),
        ],
        "id int, region string, amount double, tag string",
    )
    cat.overwrite(df, TBL, partition_by=["region"] if partitioned else None)
    return df


def test_delete_sql_autodetects_partitions(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    root = cat.path(TBL)
    assert _detect_partition_cols(root) == ["region"]
    before = _leaf_partition_files(root, ["region"])
    n = run_table_sql(cat, f"DELETE FROM {TBL} WHERE region = 'EU' AND id = 1")
    assert n == 1
    after = _leaf_partition_files(root, ["region"])
    # SQL user got the pruned path without asking: US/AP untouched
    assert after[("US",)] == before[("US",)]
    assert after[("AP",)] == before[("AP",)]


def test_delete_sql_unpartitioned_and_no_where_refused(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    assert _detect_partition_cols(cat.path(TBL)) is None
    assert run_table_sql(cat, f"DELETE FROM {TBL} WHERE amount >= 40;") == 2
    assert cat.read(TBL).count() == 3
    with pytest.raises(UnsupportedStatement, match="TRUNCATE"):
        run_table_sql(cat, f"DELETE FROM {TBL}")


def test_update_sql_multi_set_with_function_commas(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    n = run_table_sql(
        cat,
        f"UPDATE {TBL} SET amount = coalesce(amount, 0) * 2, "
        f"tag = upper(tag) WHERE region = 'EU'",
    )
    assert n == 2
    got = {r.id: (r.amount, r.tag) for r in cat.read(TBL).collect()}
    assert got[1] == (20.0, "X")
    assert got[3] == (30.0, "x")


def test_update_sql_without_where_refused_where_true_opts_in(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    with pytest.raises(UnsupportedStatement, match="WHERE true"):
        run_table_sql(cat, f"UPDATE {TBL} SET amount = 0")
    assert (
        run_table_sql(cat, f"UPDATE {TBL} SET amount = 0 WHERE true") == 5
    )
    assert {r.amount for r in cat.read(TBL).collect()} == {0.0}


def test_update_sql_duplicate_set_target_refused(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    with pytest.raises(UnsupportedStatement, match="more than once"):
        run_table_sql(
            cat,
            f"UPDATE {TBL} SET amount = 1, amount = 2 WHERE id = 1",
        )
    # the refusal happened before any mutation
    assert {r.amount for r in cat.read(TBL).where("id = 1").collect()} == {
        10.0
    }


def test_truncate_and_unsupported_statements(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(cat, f"TRUNCATE TABLE {TBL}")
    assert not cat.exists(TBL)
    with pytest.raises(UnsupportedStatement, match="unsupported statement"):
        run_table_sql(cat, f"GRANT SELECT ON {TBL} TO someone")
    with pytest.raises(UnsupportedStatement, match="empty statement"):
        run_table_sql(cat, "  ;; ")


def test_alter_constraint_sql_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(
        cat,
        f"ALTER TABLE {TBL} ADD CONSTRAINT amount_pos CHECK (amount > 0)",
    )
    assert cat.constraints(TBL) == {"amount_pos": "amount > 0"}
    bad = spark.createDataFrame(
        [(9, "EU", -1.0, "x")], "id int, region string, amount double, tag string"
    )
    with pytest.raises(SparkRuntimeException, match="amount_pos"):
        cat.overwrite_via_staging(bad, TBL)
    run_table_sql(cat, f"ALTER TABLE {TBL} DROP CONSTRAINT amount_pos")
    assert cat.constraints(TBL) == {}


def test_restore_and_vacuum_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 99 WHERE id = 1")
    run_table_sql(cat, f"RESTORE TABLE {TBL} TO VERSION AS OF 1")
    assert {r.id: r.amount for r in cat.read(TBL).collect()}[1] == 10.0
    freed = run_table_sql(cat, f"VACUUM {TBL}")
    assert isinstance(freed, int)


def test_where_keyword_inside_string_literal_not_a_clause(spark, tmp_path):
    # the token scan skips literals: a WHERE inside a string must not
    # terminate the SET body early
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    n = run_table_sql(
        cat, f"UPDATE {TBL} SET tag = 'WHERE kept' WHERE id = 2"
    )
    assert n == 1
    assert {r.id: r.tag for r in cat.read(TBL).collect()}[2] == "WHERE kept"


def test_detect_partition_cols_hierarchical(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("2024-01-01", "EU", 1), ("2024-01-02", "US", 2)],
        "day string, region string, id int",
    )
    cat.overwrite(df, TBL, partition_by=["day", "region"])
    assert _detect_partition_cols(cat.path(TBL)) == ["day", "region"]


def test_update_sql_moving_rows_across_partitions(spark, tmp_path):
    # Delta UPDATE may move a row between partitions; the SQL route
    # falls back to a whole-table rewrite that preserves the layout
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    n = run_table_sql(
        cat, f"UPDATE {TBL} SET region = 'EU' WHERE region = 'AP'"
    )
    assert n == 1
    got = {r.id: r.region for r in cat.read(TBL).collect()}
    assert got[5] == "EU"
    assert _detect_partition_cols(cat.path(TBL)) == ["region"]
    assert ("AP",) not in _leaf_partition_files(cat.path(TBL), ["region"])


def test_insert_into_sql_appends_without_rewriting(spark, tmp_path):
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)

    def inodes(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if not f.startswith((".", "_")):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    before = inodes(cat.path(TBL))
    n = run_table_sql(
        cat,
        f"INSERT INTO {TBL} SELECT id + 100 AS id, region, amount, tag "
        f"FROM {TBL} WHERE region = 'EU'",
    )
    assert n == 2
    after = inodes(cat.path(TBL))
    for rel, ino in before.items():
        assert after[rel] == ino  # append never rewrote existing files
    assert cat.read(TBL).count() == 7


def test_insert_overwrite_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(
        cat, f"INSERT OVERWRITE {TBL} SELECT * FROM {TBL} WHERE id <= 2"
    )
    assert sorted(r.id for r in cat.read(TBL).collect()) == [1, 2]
    # r12: VALUES is no longer refused — a 3-value row against the
    # 4-column table is an arity error naming the subset spelling
    with pytest.raises(ValueError, match="use INSERT INTO"):
        run_table_sql(cat, f"INSERT INTO {TBL} VALUES (1, 'EU', 1.0)")


def test_select_version_as_of_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 999 WHERE id = 1")
    # live vs time-travel read, joined in ONE statement
    df = run_table_sql(
        cat,
        f"SELECT l.id, l.amount AS live, o.amount AS old "
        f"FROM {TBL} l JOIN {TBL} VERSION AS OF 1 o ON l.id = o.id "
        f"WHERE l.id = 1",
    )
    row = df.first()
    assert (row.live, row.old) == (999.0, 10.0)


def test_describe_history_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 1 WHERE id = 1")
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 2 WHERE id = 1")
    hist = run_table_sql(cat, f"DESCRIBE HISTORY {TBL}")
    assert [r.version for r in hist.collect()] == [1, 2]
    # DESCRIBE EXTENDED is supported since r12 (test_describe_extended)


def test_backticks_and_truncated_statements_refused_by_name(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    # style-quoted PLAIN identifiers unquote and run (r12: the
    # reference's own gold statement spells names this way); only
    # identifiers that NEED quoting keep backticks and are refused
    with pytest.raises(UnsupportedStatement, match="backquoted"):
        run_table_sql(cat, f"DELETE FROM {TBL} WHERE `not a name` = 1")
    for stmt in ("VACUUM", "RESTORE", "UPDATE",
                 f"ALTER TABLE {TBL} DROP CONSTRAINT"):
        with pytest.raises(UnsupportedStatement):
            run_table_sql(cat, stmt)


def test_version_as_of_views_are_unique_and_dropped(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 7 WHERE id = 1")
    df = run_table_sql(cat, f"SELECT * FROM {TBL} VERSION AS OF 1")
    # the frame stays usable after the statement returns...
    assert df.count() == 5
    # ...and no __vasof view lingers to serve a stale snapshot
    views = [t.name for t in spark.catalog.listTables() if "vasof" in t.name]
    assert views == []


def test_update_sql_partition_move_zero_matches(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    assert run_table_sql(
        cat, f"UPDATE {TBL} SET region = 'EU' WHERE region = 'XX'"
    ) == 0


def test_analyze_and_describe_detail_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat, partitioned=True)
    cat.add_constraint(TBL, "amount_pos", "amount > 0")
    stats = run_table_sql(
        cat, f"ANALYZE TABLE {TBL} COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    assert stats["n_rows"] == 5
    assert stats["columns"]["tag"]["n_null"] == 1
    d = run_table_sql(cat, f"DESCRIBE DETAIL {TBL}").first()
    assert d.num_rows == 5                       # stats fresh
    assert d.partition_columns == ["region"]
    assert "amount_pos" in d.constraints
    assert d.num_files > 0 and d.size_bytes > 0
    # any write makes the cached row count go honestly unknown
    run_table_sql(cat, f"DELETE FROM {TBL} WHERE id = 5")
    d2 = run_table_sql(cat, f"DESCRIBE DETAIL {TBL}").first()
    assert d2.num_rows is None
    assert cat.table_stats(TBL)["fresh"] is False
    # re-analyze restores freshness
    run_table_sql(cat, f"ANALYZE TABLE {TBL} COMPUTE STATISTICS")
    assert run_table_sql(cat, f"DESCRIBE DETAIL {TBL}").first().num_rows == 4


def test_describe_detail_contracts(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    with pytest.raises(ValueError, match="does not exist"):
        run_table_sql(cat, "DESCRIBE DETAIL silver.sales.typo")
    with pytest.raises(UnsupportedStatement, match="trailing"):
        run_table_sql(cat, f"DESCRIBE DETAIL {TBL} VERSION AS OF 3")


def test_stats_stale_on_same_size_rewrite(spark, tmp_path):
    # the digest covers file names: a rewrite preserving count and
    # total bytes still flips freshness (review r10)
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    cat.analyze(TBL)
    assert cat.table_stats(TBL)["fresh"] is True
    cat.overwrite_via_staging(cat.read(TBL), TBL)  # byte-identical rows
    assert cat.table_stats(TBL)["fresh"] is False


def test_optimize_sql_compacts_and_zorders(spark, tmp_path):
    import pyarrow.parquet as pq
    import os as _os

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 4000).selectExpr(
        "CAST(id % 63 AS LONG) AS x",
        "CAST((id * 37) % 63 AS LONG) AS y",
        "id AS v",
    )
    cat.overwrite(df.repartition(16), "silver.opt.t")
    root = cat.path("silver.opt.t")
    n_before = sum(
        1 for f in _os.listdir(root) if f.endswith(".parquet")
    )
    assert n_before >= 16
    # plain OPTIMIZE: small files merge
    n = run_table_sql(cat, "OPTIMIZE silver.opt.t")
    files = [f for f in _os.listdir(root) if f.endswith(".parquet")]
    assert len(files) == n < n_before
    # ZORDER: per-file x-ranges tighten vs the global domain
    run_table_sql(
        cat, "OPTIMIZE silver.opt.t ZORDER BY (x, y)"
    )
    files = [f for f in _os.listdir(root) if f.endswith(".parquet")]
    spans = []
    for f in files:
        md = pq.ParquetFile(_os.path.join(root, f)).metadata
        idx = md.schema.names.index("x")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append(max(maxs) - min(mins))
    if len(files) > 1:
        assert sum(spans) / len(spans) < 62  # tighter than the domain
    # data survived both rewrites
    assert cat.read("silver.opt.t").count() == 4000
    with pytest.raises(UnsupportedStatement, match="ZORDER BY needs"):
        run_table_sql(cat, "OPTIMIZE silver.opt.t ZORDER BY x")


def test_optimize_zorder_refuses_partition_columns(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    with pytest.raises(ValueError, match="partition columns"):
        run_table_sql(cat, f"OPTIMIZE {TBL} ZORDER BY (region)")


def test_optimize_zorder_on_string_and_date_columns(spark, tmp_path):
    # Delta's OPTIMIZE ZORDER BY accepts date/timestamp/string keys —
    # the common clustering columns; they ride an order-preserving
    # long surrogate instead of cast('long') (which NULLs them out).
    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.maintenance import optimize_table

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(400).selectExpr(
        "id",
        "concat('cust_', lpad(cast(id % 97 as string), 3, '0')) AS name",
        "date_add(date'2024-01-01', cast(id % 365 as int)) AS day",
        "timestamp_seconds(1700000000 + id * 60) AS ts",
    )
    cat.overwrite(df, "silver.sales.events")
    n = run_table_sql(
        cat, "OPTIMIZE silver.sales.events ZORDER BY (name, day)"
    )
    assert n >= 1
    out = cat.read("silver.sales.events")
    assert out.count() == 400
    assert set(out.columns) == {"id", "name", "day", "ts"}
    # timestamp key too
    assert run_table_sql(
        cat, "OPTIMIZE silver.sales.events ZORDER BY (ts)"
    ) >= 1
    assert cat.read("silver.sales.events").count() == 400


def test_optimize_zorder_degenerate_inputs_fail_by_name(spark):
    # empty frame: no min/max bounds to scale the Morton key into —
    # named error, not TypeError int(None). (An empty CATALOG table
    # cannot exist here — delete-all/truncate remove the directory —
    # so optimize_table's limit(1) no-op guard covers any format that
    # does materialize one.)
    from mydatalake_spark.maintenance import _zorder_frame

    empty = spark.createDataFrame([], "id int, v string")
    with pytest.raises(ValueError, match="NULL min/max"):
        _zorder_frame(empty, ["id"], 16, None).collect()
    # unsupported type named in the error
    bin_df = spark.createDataFrame(
        [(1, bytearray(b"ab"))], "id int, blob binary"
    )
    with pytest.raises(ValueError, match="blob"):
        _zorder_frame(bin_df, ["blob"], 16, None)
    # all-NULL column: same bounds guard
    null_df = spark.createDataFrame(
        [(1, None), (2, None)], "id int, v string"
    )
    with pytest.raises(ValueError, match="NULL min/max"):
        _zorder_frame(null_df, ["v"], 16, None)


def test_zorder_string_surrogate_preserves_order(spark):
    # hex-prefix surrogate must be monotone w.r.t. the string order
    # (binary collation) so range clustering on it is real clustering
    from mydatalake_spark.maintenance import _zorder_surrogate

    vals = ["", "a", "aa", "ab", "abcdefgh", "abcdefz", "b", "zz", "Z"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select(
        "s", _zorder_surrogate(df, "s").alias("k")
    ).collect()
    by_string = [r.k for r in sorted(rows, key=lambda r: r.s)]
    assert by_string == sorted(by_string)


def test_ctas_sql_plain_and_partitioned(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=False)
    run_table_sql(
        cat,
        f"CREATE TABLE gold.sales.big AS SELECT id, region, amount "
        f"FROM {TBL} WHERE amount >= 30",
    )
    assert sorted(r.id for r in cat.read("gold.sales.big").collect()) == [
        3, 4, 5,
    ]
    # CREATE on an existing table refused; OR REPLACE overwrites
    with pytest.raises(ValueError, match="already exists"):
        run_table_sql(
            cat,
            f"CREATE TABLE gold.sales.big AS SELECT * FROM {TBL}",
        )
    run_table_sql(
        cat,
        "CREATE OR REPLACE TABLE gold.sales.big "
        f"PARTITIONED BY (region) AS SELECT id, region, amount "
        f"FROM {TBL} WHERE id <= 2",
    )
    assert _detect_partition_cols(cat.path("gold.sales.big")) == ["region"]
    assert cat.read("gold.sales.big").count() == 2


def test_ctas_sql_constraint_and_version_ride_through(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    _seed(spark, cat)
    run_table_sql(
        cat, f"CREATE TABLE gold.t.a AS SELECT id, amount FROM {TBL}"
    )
    run_table_sql(
        cat,
        "ALTER TABLE gold.t.a ADD CONSTRAINT amt_pos CHECK (amount > 0)",
    )
    # constraints guard writes to the CURRENT definition...
    bad = spark.createDataFrame([(9, -1.0)], "id int, amount double")
    with pytest.raises(SparkRuntimeException, match="amt_pos"):
        cat.overwrite_via_staging(bad, "gold.t.a")
    assert cat.read("gold.t.a").count() == 5
    # ...but CREATE OR REPLACE installs a NEW definition (Delta
    # REPLACE semantics, r12): the old constraint is dropped with the
    # old schema rather than silently vetoing the new one
    run_table_sql(
        cat,
        "CREATE OR REPLACE TABLE gold.t.a AS "
        f"SELECT id, -amount AS amount FROM {TBL} WHERE id = 1",
    )
    assert cat.read("gold.t.a").count() == 1
    assert cat.constraints("gold.t.a") == {}
    assert len(cat.versions("gold.t.a")) >= 1


def test_ctas_sql_refusals(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    # r12: a bare column list is no longer a refusal — it's empty-table
    # DDL (covered in test_create_table_column_list_and_insert_values)
    run_table_sql(cat, "CREATE TABLE gold.t.b (id INT, amount DOUBLE)")
    assert cat.read("gold.t.b").count() == 0
    with pytest.raises(ValueError, match="PARTITIONED BY columns"):
        run_table_sql(
            cat,
            "CREATE TABLE gold.t.c PARTITIONED BY (nope) AS "
            f"SELECT id FROM {TBL}",
        )


def test_optimize_where_confines_rewrite_to_matching_leaves(
    spark, tmp_path
):
    # Delta's OPTIMIZE t WHERE <partition predicate>: only matching
    # leaves are read/rewritten; untouched leaves keep their inodes.
    import os

    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    df = spark.range(200).selectExpr(
        "id",
        "CASE WHEN id % 3 = 0 THEN 'EU' WHEN id % 3 = 1 THEN 'US' "
        "ELSE 'AP' END AS region",
        "cast(id * 1.5 as double) AS amount",
    ).repartition(8)  # many small files per leaf
    cat.overwrite(df, TBL, partition_by=["region"])
    before = _leaf_partition_files(cat.path(TBL), ["region"])
    assert len(before[("EU",)]) > 1  # something to compact
    n = run_table_sql(cat, f"OPTIMIZE {TBL} WHERE region = 'EU'")
    assert n >= 1
    after = _leaf_partition_files(cat.path(TBL), ["region"])
    assert after[("US",)] == before[("US",)]   # inode-identical
    assert after[("AP",)] == before[("AP",)]
    assert len(after[("EU",)]) < len(before[("EU",)])  # compacted
    assert cat.read(TBL).count() == 200  # rows preserved
    # versioned: the pre-state is retained
    assert len(cat.versions(TBL)) == 1
    # WHERE + ZORDER BY composes; non-matching predicate is a no-op
    assert run_table_sql(
        cat, f"OPTIMIZE {TBL} WHERE region = 'US' ZORDER BY (amount)"
    ) >= 1
    assert run_table_sql(cat, f"OPTIMIZE {TBL} WHERE region = 'XX'") == 0
    assert cat.read(TBL).count() == 200


def test_optimize_where_refuses_non_partition_predicate(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    with pytest.raises(ValueError, match="partition columns"):
        run_table_sql(cat, f"OPTIMIZE {TBL} WHERE amount > 10")
    # unpartitioned table: WHERE form refused by name
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    _seed(spark, cat2, partitioned=False)
    with pytest.raises(ValueError, match="hive-partitioned"):
        run_table_sql(cat2, f"OPTIMIZE {TBL} WHERE region = 'EU'")


def test_drop_table_sql_and_if_exists(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(cat, f"DROP TABLE {TBL}")
    assert not cat.exists(TBL)
    with pytest.raises(ValueError, match="does not exist"):
        run_table_sql(cat, f"DROP TABLE {TBL}")
    assert run_table_sql(cat, f"DROP TABLE IF EXISTS {TBL}") is None


def test_show_tables_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(
        cat, f"CREATE TABLE gold.x.copy AS SELECT * FROM {TBL}"
    )
    rows = {
        (r.namespace, r.tableName)
        for r in run_table_sql(cat, "SHOW TABLES").collect()
    }
    assert ("silver.sales", "orders") in rows
    assert ("gold.x", "copy") in rows


def test_describe_table_sql_schema_shape(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    rows = run_table_sql(cat, f"DESCRIBE TABLE {TBL}").collect()
    names = [r.col_name for r in rows]
    assert "id" in names and "amount" in names
    # partition section present and names the partition column again
    assert "# Partition Information" in names
    assert names.count("region") == 2
    types = {r.col_name: r.data_type for r in rows[:4]}
    assert types["amount"] == "double"
    # bare DESCRIBE t works too
    assert len(run_table_sql(cat, f"DESCRIBE {TBL}").collect()) == len(rows)


def test_clone_sql_shallow_and_version(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 0 WHERE id = 1")
    # clone the CURRENT state
    run_table_sql(cat, f"CREATE TABLE gold.c.cur SHALLOW CLONE {TBL}")
    got = {r.id: r.amount for r in cat.read("gold.c.cur").collect()}
    assert got[1] == 0.0
    # clone a retained VERSION (pre-update state)
    ver = cat.versions(TBL)[-1]
    run_table_sql(
        cat,
        f"CREATE TABLE gold.c.old CLONE {TBL} VERSION AS OF {ver}",
    )
    old = {r.id: r.amount for r in cat.read("gold.c.old").collect()}
    assert old[1] == 10.0
    # source mutation does not leak into the clone (independence)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 77 WHERE id = 2")
    assert {r.id: r.amount for r in cat.read("gold.c.cur").collect()}[2] == 20.0
    with pytest.raises(UnsupportedStatement, match="OR REPLACE"):
        run_table_sql(
            cat, f"CREATE OR REPLACE TABLE gold.c.cur CLONE {TBL}"
        )


def test_timestamp_as_of_select_and_restore(spark, tmp_path):
    import datetime as dt
    import os
    import time

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 111 WHERE id = 1")
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 222 WHERE id = 1")
    hist = cat.history(TBL)
    assert len(hist) == 2
    # pick a timestamp between commit 1 (amount=10 state) and commit 2
    # (amount=111 state): must resolve to the 111 state's snapshot
    mid = (hist[0]["snapshot_time"] + hist[1]["snapshot_time"]) / 2
    assert cat.version_at_timestamp(TBL, mid) == hist[0]["label"]
    got = {r.id: r.amount for r in cat.read_timestamp(TBL, mid).collect()}
    assert got[1] == 10.0  # the state committed first
    # a future timestamp resolves to live
    assert cat.version_at_timestamp(TBL, time.time() + 3600) is None
    # a pre-history timestamp raises by name
    with pytest.raises(ValueError, match="predates"):
        cat.read_timestamp(TBL, 1.0)
    # SQL read side: quoted ISO timestamp
    iso = dt.datetime.fromtimestamp(mid).isoformat(sep=" ")
    rows = run_table_sql(
        cat,
        f"SELECT id, amount FROM {TBL} TIMESTAMP AS OF '{iso}' "
        "WHERE id = 1",
    ).collect()
    assert rows[0].amount == 10.0
    # SQL restore side
    run_table_sql(
        cat, f"RESTORE TABLE {TBL} TO TIMESTAMP AS OF '{iso}'"
    )
    assert {r.id: r.amount for r in cat.read(TBL).collect()}[1] == 10.0


def test_timestamp_as_of_sees_partitioned_append(spark, tmp_path):
    # ADVICE r11: appends into EXISTING leaf dirs never update the
    # table ROOT's mtime, so root-mtime-based resolution served the
    # live (post-append) state for a ts taken BEFORE the append. The
    # commit clock is now an explicit stamp advanced by every write.
    import os
    import time

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    _seed(spark, cat, partitioned=True)
    time.sleep(0.3)
    mid = time.time()
    time.sleep(0.3)
    cat.append(
        spark.createDataFrame(
            [(9, "EU", 90.0, "z")],
            "id int, region string, amount double, tag string",
        ),
        TBL,
    )
    # pin the scenario: the append landed inside existing leaves and
    # the root dir mtime still predates `mid` (the old code's bug)
    assert os.path.getmtime(cat.path(TBL)) < mid
    label = cat.version_at_timestamp(TBL, mid)
    assert label is not None  # NOT the live state
    ids = sorted(r.id for r in cat.read_timestamp(TBL, mid).collect())
    assert ids == [1, 2, 3, 4, 5]  # pre-append snapshot, no id=9
    # a ts after the append resolves to live and sees the new row
    now = time.time() + 5
    assert cat.version_at_timestamp(TBL, now) is None
    assert 9 in {r.id for r in cat.read_timestamp(TBL, now).collect()}
    # history commit times are the stamps: strictly before/after mid
    hist = cat.history(TBL)
    assert hist[-1]["snapshot_time"] < mid


def test_vacuum_dry_run_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 1 WHERE id = 1")
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 2 WHERE id = 1")
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 3 WHERE id = 1")
    assert len(cat.versions(TBL)) == 3
    # a tighter-retention handle on the same warehouse: its VACUUM
    # would reclaim the two oldest snapshots
    tight = Catalog(spark, str(tmp_path / "wh"), keep_versions=1)
    would = run_table_sql(tight, f"VACUUM {TBL} DRY RUN")
    assert would > 0
    assert len(cat.versions(TBL)) == 3  # DRY RUN deleted nothing
    freed = run_table_sql(tight, f"VACUUM {TBL}")
    assert freed >= would  # real run frees at least the dry estimate
    assert len(cat.versions(TBL)) == 1


def test_alter_add_drop_rename_columns_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    _seed(spark, cat, partitioned=True)
    run_table_sql(
        cat,
        f"ALTER TABLE {TBL} ADD COLUMNS (score DOUBLE, note STRING)",
    )
    df = cat.read(TBL)
    assert "score" in df.columns and "note" in df.columns
    assert df.where("score IS NOT NULL").count() == 0
    # versioned: the pre-DDL schema is retained
    old = cat.read_version(TBL, version=cat.versions(TBL)[-1])
    assert "score" not in old.columns
    # duplicate add refused
    with pytest.raises(ValueError, match="already exist"):
        run_table_sql(cat, f"ALTER TABLE {TBL} ADD COLUMNS (score INT)")
    # rename, then drop
    run_table_sql(cat, f"ALTER TABLE {TBL} RENAME COLUMN note TO memo")
    assert "memo" in cat.read(TBL).columns
    run_table_sql(cat, f"ALTER TABLE {TBL} DROP COLUMN memo, score")
    assert "memo" not in cat.read(TBL).columns
    # layout survived every rewrite
    assert _detect_partition_cols(cat.path(TBL)) == ["region"]
    # guards: partition column + constraint-referenced column
    with pytest.raises(ValueError, match="partition column"):
        run_table_sql(cat, f"ALTER TABLE {TBL} DROP COLUMN region")
    run_table_sql(
        cat,
        f"ALTER TABLE {TBL} ADD CONSTRAINT amt_pos CHECK (amount > 0)",
    )
    with pytest.raises(ValueError, match="amt_pos"):
        run_table_sql(cat, f"ALTER TABLE {TBL} DROP COLUMN amount")
    with pytest.raises(ValueError, match="amt_pos"):
        run_table_sql(
            cat, f"ALTER TABLE {TBL} RENAME COLUMN amount TO amt"
        )


def test_run_table_script_multi_statement(spark, tmp_path):
    from mydatalake_spark.plans.table_sql import run_table_script

    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    results = run_table_script(
        cat,
        f"""
        -- migrate a notebook cell verbatim
        CREATE TABLE gold.s.top AS
          SELECT id, amount FROM {TBL} WHERE amount >= 30;
        UPDATE gold.s.top SET amount = amount + 1 WHERE id = 3;
        DELETE FROM gold.s.top WHERE amount > 45;
        """,
    )
    assert results[1] == 1 and results[2] == 1
    got = {r.id: r.amount for r in cat.read("gold.s.top").collect()}
    assert got == {3: 31.0, 4: 40.0}
    # literal semicolons do not split; fail-fast leaves earlier
    # effects in place
    run_table_script(
        cat, f"UPDATE gold.s.top SET amount = 0 WHERE id = 3"
    )
    with pytest.raises(UnsupportedStatement):
        run_table_script(
            cat,
            "UPDATE gold.s.top SET amount = 5 WHERE id = 4; "
            "GRANT SELECT ON gold.s.top TO x",
        )
    got = {r.id: r.amount for r in cat.read("gold.s.top").collect()}
    assert got == {3: 0.0, 4: 5.0}  # first statement landed


def test_table_changes_sql_function(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 111 WHERE id = 1")
    run_table_sql(cat, f"DELETE FROM {TBL} WHERE id = 5")
    # per-commit CDF through the SQL spelling (explicit key list —
    # this feed diffs by key, documented deviation from Databricks)
    # from v1 to the live state (no to-version argument)
    df = run_table_sql(
        cat,
        f"SELECT _change_type, _commit_version, id FROM "
        f"table_changes('{TBL}', 1, 'id') ORDER BY _commit_version",
    )
    rows = [(r._change_type, r.id) for r in df.collect()]
    assert ("update_postimage", 1) in rows
    assert ("delete", 5) in rows
    # missing key list refused by name
    with pytest.raises(UnsupportedStatement, match="key columns"):
        run_table_sql(
            cat, f"SELECT * FROM table_changes('{TBL}', 1, 3)"
        )


def test_optimize_where_typed_partitions(spark, tmp_path):
    # DATE- and INT-typed hive partitions: the metadata predicate
    # casts the dirname strings through the table's partition types
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(60).selectExpr(
        "id",
        "date_add(date'2024-01-01', cast(id % 3 as int)) AS day",
        "cast(id * 1.5 as double) AS v",
    ).repartition(6)
    cat.overwrite(df, TBL, partition_by=["day"])
    before = _leaf_partition_files(cat.path(TBL), ["day"])
    assert run_table_sql(
        cat, f"OPTIMIZE {TBL} WHERE day >= '2024-01-02'"
    ) >= 1
    after = _leaf_partition_files(cat.path(TBL), ["day"])
    assert after[("2024-01-01",)] == before[("2024-01-01",)]
    assert after[("2024-01-02",)] != before[("2024-01-02",)]
    assert cat.read(TBL).count() == 60
    df2 = spark.range(40).selectExpr(
        "id", "cast(id % 4 as int) AS bucket", "id * 2 AS v"
    ).repartition(4)
    cat.overwrite(df2, "s.t.b", partition_by=["bucket"])
    assert run_table_sql(cat, "OPTIMIZE s.t.b WHERE bucket IN (1, 3)") >= 1
    assert cat.read("s.t.b").count() == 40


def test_show_partitions_sql(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    rows = sorted(
        r.partition
        for r in run_table_sql(cat, f"SHOW PARTITIONS {TBL}").collect()
    )
    assert rows == ["region=AP", "region=EU", "region=US"]
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    _seed(spark, cat2, partitioned=False)
    with pytest.raises(ValueError, match="not a partitioned"):
        run_table_sql(cat2, f"SHOW PARTITIONS {TBL}")
    # hierarchical layouts render k=v/k=v
    df = spark.createDataFrame(
        [("2024-01-01", "EU", 1)], "day string, region string, id int"
    )
    cat.overwrite(df, "s.t.h", partition_by=["day", "region"])
    got = [
        r.partition
        for r in run_table_sql(cat, "SHOW PARTITIONS s.t.h").collect()
    ]
    assert got == ["day=2024-01-01/region=EU"]


def test_create_materialized_view_reference_gold_statement(spark, tmp_path):
    """The reference's literal gold-layer statement
    (Pipelines/Test/transformations/test.sql:3-14, backticks and all)
    must run through run_table_sql end-to-end (VERDICT r11 ask #3)."""
    from mydatalake_spark.plans.table_sql import load_materialized_view

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [
            ("PETR4", "2024-01-02", 9.0, 10.0, 11.0, 9.5, 1000, 10.0),
            ("PETR4", "2024-01-03", 9.8, 10.5, 11.5, 10.0, 1200, 10.5),
        ],
        "symbol string, date string, low double, close double, "
        "high double, open double, volume long, adjustedClose double",
    )
    cat.overwrite(src, "silver.brapi.prices")
    stmt = """
CREATE MATERIALIZED VIEW `gold`.`brapi`.`prices` AS
SELECT
    symbol
    , date
    , low
    , close
    , high
    , open
    , volume
    , adjustedClose
    , (close - open) AS intraday_change
    , (high - low) AS intraday_range
FROM silver.brapi.prices
"""
    run_table_sql(cat, stmt)
    got = {
        r.date: (r.intraday_change, r.intraday_range)
        for r in cat.read("gold.brapi.prices").collect()
    }
    assert got == {
        "2024-01-02": (pytest.approx(0.5), pytest.approx(2.0)),
        "2024-01-03": (pytest.approx(0.5), pytest.approx(1.7)),
    }
    # plain CREATE refuses an existing view
    with pytest.raises(ValueError, match="already exists"):
        run_table_sql(cat, stmt)
    # source mutates -> REFRESH recomputes from the stored definition
    cat.append(
        spark.createDataFrame(
            [("VALE3", "2024-01-02", 50.0, 52.0, 53.0, 51.0, 99, 52.0)],
            src.schema,
        ),
        "silver.brapi.prices",
    )
    run_table_sql(cat, "REFRESH MATERIALIZED VIEW gold.brapi.prices")
    assert cat.read("gold.brapi.prices").count() == 3
    # the stored definition round-trips through the loader too
    mv = load_materialized_view(cat, "gold.brapi.prices")
    assert "intraday_change" in mv.sql
    # DROP MATERIALIZED VIEW removes table + definition
    run_table_sql(cat, "DROP MATERIALIZED VIEW gold.brapi.prices")
    assert not cat.exists("gold.brapi.prices")
    with pytest.raises(ValueError, match="not a materialized view"):
        run_table_sql(cat, "REFRESH MATERIALIZED VIEW silver.brapi.prices")
    with pytest.raises(ValueError, match="plain table"):
        run_table_sql(cat, "DROP MATERIALIZED VIEW silver.brapi.prices")


def test_create_materialized_view_or_replace_qualify_partitioned(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    # QUALIFY dialect + PARTITIONED BY in the view body
    run_table_sql(
        cat,
        "CREATE MATERIALIZED VIEW gold.s.top PARTITIONED BY (region) AS "
        f"SELECT region, id, amount FROM {TBL} "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY region "
        "ORDER BY amount DESC) = 1",
    )
    got = {r.region: r.amount for r in cat.read("gold.s.top").collect()}
    assert got == {"EU": 20.0, "US": 40.0, "AP": 50.0}
    import os

    assert os.path.isdir(os.path.join(str(tmp_path / "wh"), "gold", "s",
                                      "top", "region=EU"))
    # OR REPLACE redefines (different body)
    run_table_sql(
        cat,
        "CREATE OR REPLACE MATERIALIZED VIEW gold.s.top AS "
        f"SELECT region, COUNT(*) AS n FROM {TBL} GROUP BY region",
    )
    got2 = {r.region: r.n for r in cat.read("gold.s.top").collect()}
    assert got2 == {"EU": 2, "US": 2, "AP": 1}
    # non-materialized CREATE VIEW is the LAZY sibling (r12): stored
    # definition, no data — covered in
    # tests/test_sources_views.py::test_create_view_lazy_stored
    run_table_sql(cat, f"CREATE VIEW gold.s.v AS SELECT * FROM {TBL}")
    assert "gold.s.v" in cat.stored_views()


def test_backtick_unquoting_scope(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    # style-quoted plain identifiers unquote; statement runs
    n = run_table_sql(
        cat, f"DELETE FROM `silver`.`sales`.`orders` WHERE `id` = 1"
    )
    assert n == 1
    # a backtick inside a string literal is untouched (still refused
    # only if a REAL backtick identifier remains — here none does)
    n = run_table_sql(
        cat, f"DELETE FROM {TBL} WHERE tag = 'a`b'"
    )
    assert n == 0
    # reserved-word identifiers keep their backticks -> explicit refusal
    with pytest.raises(UnsupportedStatement, match="backquoted"):
        run_table_sql(cat, f"DELETE FROM {TBL} WHERE `order` = 1")


def test_create_table_column_list_and_insert_values(spark, tmp_path):
    """Quickstart DDL (VERDICT r11 ask #5): empty typed table via a
    column list, literal rows via INSERT VALUES, with constraints and
    generated columns enforced on the VALUES write path."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    T2 = "silver.dim.currency"
    run_table_sql(
        cat,
        f"CREATE TABLE {T2} (code STRING, rate DOUBLE, "
        "cents BIGINT GENERATED ALWAYS AS (CAST(rate * 100 AS BIGINT)))",
    )
    assert cat.exists(T2)
    live = cat.read(T2)
    assert [f.name for f in live.schema.fields] == ["code", "rate", "cents"]
    assert live.count() == 0
    assert cat.generated_columns(T2) == {
        "cents": "CAST(rate * 100 AS BIGINT)"
    }
    run_table_sql(
        cat, f"ALTER TABLE {T2} ADD CONSTRAINT rate_pos CHECK (rate > 0)"
    )
    # column-list insert: generated column computed, cast applied
    n = run_table_sql(
        cat,
        f"INSERT INTO {T2} (code, rate) VALUES ('USD', 5.0), ('EUR', 6.25)",
    )
    assert n == 2
    got = {r.code: (r.rate, r.cents) for r in cat.read(T2).collect()}
    assert got == {"USD": (5.0, 500), "EUR": (6.25, 625)}
    # bare VALUES: positional over ALL columns; a wrong generated
    # value is refused by the per-row guard
    with pytest.raises(Exception, match="generated column"):
        run_table_sql(
            cat, f"INSERT INTO {T2} VALUES ('BRL', 2.0, 999)"
        )
    # consistent explicit value passes
    assert run_table_sql(
        cat, f"INSERT INTO {T2} VALUES ('BRL', 2.0, 200)"
    ) == 1
    # CHECK constraint fires on a VALUES row too
    with pytest.raises(Exception, match="rate_pos"):
        run_table_sql(
            cat, f"INSERT INTO {T2} (code, rate) VALUES ('BAD', -1.0)"
        )
    assert cat.read(T2).count() == 3
    # plain CREATE refuses existing; OR REPLACE redefines to empty
    with pytest.raises(ValueError, match="already exists"):
        run_table_sql(cat, f"CREATE TABLE {T2} (x INT)")
    run_table_sql(cat, f"CREATE OR REPLACE TABLE {T2} (x INT)")
    assert cat.read(T2).columns == ["x"]


def test_create_table_column_list_refusals(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    # (PARTITIONED BY on a column list is supported since later in
    # r12 — covered by test_create_table_partitioned_declaration_*)
    with pytest.raises(ValueError, match="not in the column list"):
        run_table_sql(
            cat,
            "CREATE TABLE s.d.t (a INT) PARTITIONED BY (day)",
        )
    with pytest.raises(UnsupportedStatement, match="NOT NULL"):
        run_table_sql(cat, "CREATE TABLE s.d.t (a INT NOT NULL)")
    with pytest.raises(UnsupportedStatement, match="cannot parse"):
        run_table_sql(cat, "CREATE TABLE s.d.t (a NOTATYPE)")


def test_insert_values_refusals_and_null_fill(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    # subset column list: omitted plain columns NULL-fill
    n = run_table_sql(
        cat, f"INSERT INTO {TBL} (id, region) VALUES (99, 'ZZ')"
    )
    assert n == 1
    row = [r for r in cat.read(TBL).collect() if r.id == 99][0]
    assert row.amount is None and row.tag is None
    # arity mismatches named clearly
    with pytest.raises(ValueError, match="use INSERT INTO"):
        run_table_sql(cat, f"INSERT INTO {TBL} VALUES (1, 'EU')")
    with pytest.raises(ValueError, match="unknown column"):
        run_table_sql(cat, f"INSERT INTO {TBL} (nope) VALUES (1)")
    with pytest.raises(ValueError, match="does not exist"):
        run_table_sql(cat, "INSERT INTO no.such.table VALUES (1)")


def test_create_or_replace_drops_old_definition_metadata(spark, tmp_path):
    # constraints / generated columns attach to the DEFINITION being
    # replaced — Delta REPLACE semantics; stale declarations used to
    # poison the new table's writes with unresolvable columns
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(
        cat, f"ALTER TABLE {TBL} ADD CONSTRAINT amount_pos CHECK (amount > 0)"
    )
    cat.set_generated_column(TBL, "amount2", "amount * 2")
    run_table_sql(
        cat, f"CREATE OR REPLACE TABLE {TBL} AS SELECT 1 AS just_one"
    )
    assert cat.constraints(TBL) == {}
    assert cat.generated_columns(TBL) == {}
    # the replaced table accepts writes its old declarations would block
    assert run_table_sql(cat, f"INSERT INTO {TBL} VALUES (2)") == 1


def test_alter_add_generated_column_sql(spark, tmp_path):
    """ALTER TABLE ... ADD COLUMNS (c T GENERATED ALWAYS AS (expr)) —
    the Delta generated-column spelling, with a backfill Delta itself
    cannot do on a live table (VERDICT r11 ask #6)."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    run_table_sql(
        cat,
        f"ALTER TABLE {TBL} ADD COLUMNS "
        "(cents BIGINT GENERATED ALWAYS AS (amount * 100), "
        "note STRING)",
    )
    got = {r.id: (r.cents, r.note) for r in cat.read(TBL).collect()}
    assert got[1] == (1000, None)  # backfilled + NULL-filled
    assert cat.generated_columns(TBL) == {
        "cents": "CAST((amount * 100) AS BIGINT)"
    }
    # every later write computes-or-validates: VALUES without cents
    run_table_sql(
        cat,
        f"INSERT INTO {TBL} (id, region, amount) VALUES (9, 'EU', 2.5)",
    )
    assert {r.id: r.cents for r in cat.read(TBL).collect()}[9] == 250
    # wrong explicit value refused by the per-row guard
    with pytest.raises(Exception, match="generated column"):
        run_table_sql(
            cat, f"INSERT INTO {TBL} VALUES (10, 'EU', 1.0, 'x', 5, 'n')"
        )
    # CLONE carries the declaration (r11 contract, via SQL spelling)
    run_table_sql(cat, f"CREATE TABLE gold.c.copy CLONE {TBL}")
    assert cat.generated_columns("gold.c.copy") == cat.generated_columns(TBL)


def test_alter_column_type_widening(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)  # id int, region string, amount double, tag string
    run_table_sql(cat, f"ALTER TABLE {TBL} ALTER COLUMN id TYPE BIGINT")
    assert dict(cat.read(TBL).dtypes)["id"] == "bigint"
    assert cat.read(TBL).count() == 5
    # time travel shows the pre-DDL schema (versioned rewrite)
    assert dict(cat.read_version(TBL, 1).dtypes)["id"] == "int"
    # narrowing refused by name
    with pytest.raises(ValueError, match="not a supported widening"):
        run_table_sql(cat, f"ALTER TABLE {TBL} ALTER COLUMN id TYPE INT")
    # cross-family refused
    with pytest.raises(ValueError, match="not a supported widening"):
        run_table_sql(
            cat, f"ALTER TABLE {TBL} ALTER COLUMN amount TYPE BIGINT"
        )
    # float->double is the one float-family widening
    with pytest.raises(ValueError, match="not in"):
        run_table_sql(cat, f"ALTER TABLE {TBL} ALTER COLUMN nope TYPE INT")
    # partition / constraint guards
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    _seed(spark, cat2, partitioned=True)
    with pytest.raises(ValueError, match="partition column"):
        run_table_sql(
            cat2, f"ALTER TABLE {TBL} ALTER COLUMN region TYPE STRING"
        )
    run_table_sql(
        cat2, f"ALTER TABLE {TBL} ADD CONSTRAINT idp CHECK (id > 0)"
    )
    with pytest.raises(ValueError, match="idp"):
        run_table_sql(cat2, f"ALTER TABLE {TBL} ALTER COLUMN id TYPE BIGINT")


def test_create_table_partitioned_declaration_first_write_lays_out(
    spark, tmp_path
):
    """CREATE TABLE (cols) PARTITIONED BY (p) declares the layout on
    an EMPTY table (the table's metadata book, `definition` section);
    the first data write replaces the schema anchor with the real hive
    tree, and later writes get the pruned partitioned paths. Includes
    the classic Delta pattern: partition on a GENERATED date column."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    T3 = "silver.ev.clicks"
    run_table_sql(
        cat,
        f"CREATE TABLE {T3} (id BIGINT, ts TIMESTAMP, "
        "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) "
        "PARTITIONED BY (day)",
    )
    assert cat.declared_partition_cols(T3) == ["day"]
    assert cat.read(T3).count() == 0
    assert _detect_partition_cols(cat.path(T3)) is None  # anchor only
    run_table_sql(
        cat,
        f"INSERT INTO {T3} (id, ts) VALUES "
        "(1, TIMESTAMP '2024-01-02 10:00:00'), "
        "(2, TIMESTAMP '2024-01-03 11:00:00')",
    )
    # the first write laid out the declared hive tree
    assert _detect_partition_cols(cat.path(T3)) == ["day"]
    got = {r.id: str(r.day) for r in cat.read(T3).collect()}
    assert got == {1: "2024-01-02", 2: "2024-01-03"}
    # later inserts take the ordinary partitioned append
    run_table_sql(
        cat,
        f"INSERT INTO {T3} (id, ts) VALUES "
        "(3, TIMESTAMP '2024-01-02 12:00:00')",
    )
    assert cat.read(T3).count() == 3
    import os

    assert os.path.isdir(os.path.join(cat.path(T3), "day=2024-01-02"))
    # declared partition column protected from column DDL while empty
    run_table_sql(cat, f"CREATE TABLE silver.ev.e (a INT, p STRING) "
                       "PARTITIONED BY (p)")
    with pytest.raises(ValueError, match="partition column"):
        run_table_sql(
            cat, "ALTER TABLE silver.ev.e DROP COLUMN p"
        )


def test_show_create_table_round_trips(spark, tmp_path):
    """SHOW CREATE TABLE emits runnable DDL covering the full declared
    surface — proven by executing the output in a fresh warehouse and
    comparing schema, partitioning, constraints, and generated
    declarations."""
    from mydatalake_spark.plans.table_sql import run_table_script

    cat = Catalog(spark, str(tmp_path / "wh"))
    T4 = "silver.dim.fx"
    run_table_sql(
        cat,
        f"CREATE TABLE {T4} (code STRING, rate DOUBLE, "
        "cents BIGINT GENERATED ALWAYS AS "
        "(CAST(FLOOR(rate * 100 + 0.5) AS BIGINT)), day STRING) "
        "PARTITIONED BY (day)",
    )
    run_table_sql(
        cat, f"ALTER TABLE {T4} ADD CONSTRAINT rate_pos CHECK (rate > 0)"
    )
    stmt = run_table_sql(cat, f"SHOW CREATE TABLE {T4}").collect()[0][0]
    assert "GENERATED ALWAYS AS" in stmt and "PARTITIONED BY (day)" in stmt
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    run_table_script(cat2, stmt)
    assert [f.name for f in cat2.read(T4).schema.fields] == [
        "code", "rate", "cents", "day",
    ]
    assert cat2.declared_partition_cols(T4) == ["day"]
    assert cat2.constraints(T4) == {"rate_pos": "rate > 0"}
    assert "cents" in cat2.generated_columns(T4)
    # a materialized view shows as its CREATE MATERIALIZED VIEW
    _seed(spark, cat)
    run_table_sql(
        cat,
        "CREATE MATERIALIZED VIEW gold.s.mv AS "
        f"SELECT region, COUNT(*) AS n FROM {TBL} GROUP BY region",
    )
    mv_stmt = run_table_sql(
        cat, "SHOW CREATE TABLE gold.s.mv"
    ).collect()[0][0]
    assert mv_stmt.startswith("CREATE MATERIALIZED VIEW gold.s.mv")
    with pytest.raises(ValueError, match="does not exist"):
        run_table_sql(cat, "SHOW CREATE TABLE no.such.tbl")


def test_describe_extended(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    run_table_sql(
        cat, f"ALTER TABLE {TBL} ADD CONSTRAINT amt_pos CHECK (amount > 0)"
    )
    rows = run_table_sql(cat, f"DESCRIBE EXTENDED {TBL}").collect()
    names = [r.col_name for r in rows]
    assert "# Detailed Table Information" in names
    kv = {r.col_name: r.data_type for r in rows}
    assert kv["Name"] == TBL
    assert kv["Provider"] == "parquet"
    assert "amt_pos" in kv["Constraints"]
    assert "# Partition Information" in names
    # generated columns annotate their schema row
    cat.set_generated_column(TBL, "amount2", "amount * 2")
    rows = run_table_sql(cat, f"DESCRIBE FORMATTED {TBL}").collect()
    gen_row = [r for r in rows if r.col_name == "amount2"][0]
    assert "GENERATED ALWAYS AS" in gen_row.comment
    # plain DESCRIBE still has no detail section
    rows = run_table_sql(cat, f"DESCRIBE {TBL}").collect()
    assert "# Detailed Table Information" not in [r.col_name for r in rows]


def test_clone_carries_declared_partitioning(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        "CREATE TABLE silver.d.t (id INT, day STRING) PARTITIONED BY (day)",
    )
    run_table_sql(cat, "CREATE TABLE silver.d.t2 CLONE silver.d.t")
    assert cat.declared_partition_cols("silver.d.t2") == ["day"]
    run_table_sql(
        cat, "INSERT INTO silver.d.t2 VALUES (1, '2024-01-02')"
    )
    assert _detect_partition_cols(cat.path("silver.d.t2")) == ["day"]


def test_alter_table_rename_to(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    _seed(spark, cat, partitioned=True)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 1 WHERE id = 1")
    run_table_sql(
        cat, f"ALTER TABLE {TBL} ADD CONSTRAINT a_pos CHECK (amount > 0)"
    )
    run_table_sql(cat, f"ALTER TABLE {TBL} RENAME TO silver.sales.o2")
    assert not cat.exists(TBL)
    assert cat.read("silver.sales.o2").count() == 5
    # definition-scoped metadata and history moved with the rename
    assert cat.constraints("silver.sales.o2") == {"a_pos": "amount > 0"}
    assert len(cat.versions("silver.sales.o2")) == 1
    with pytest.raises(ValueError, match="does not exist"):
        run_table_sql(cat, f"ALTER TABLE {TBL} RENAME TO silver.sales.o3")
    _seed(spark, cat)
    with pytest.raises(ValueError, match="already exists"):
        run_table_sql(cat, f"ALTER TABLE {TBL} RENAME TO silver.sales.o2")


def test_create_table_like(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    cat.set_generated_column(TBL, "amount2", "amount * 2")
    run_table_sql(cat, f"CREATE TABLE silver.sales.empty LIKE {TBL}")
    live = cat.read("silver.sales.empty")
    assert live.count() == 0
    assert set(live.columns) == {"id", "region", "amount", "tag", "amount2"}
    # partitioning carried as a declaration; generated cols carried
    assert cat.declared_partition_cols("silver.sales.empty") == ["region"]
    assert "amount2" in cat.generated_columns("silver.sales.empty")
    run_table_sql(
        cat,
        "INSERT INTO silver.sales.empty (id, region, amount, tag) "
        "VALUES (1, 'EU', 3.0, 'x')",
    )
    got = cat.read("silver.sales.empty").collect()[0]
    assert got.amount2 == 6.0
    assert _detect_partition_cols(cat.path("silver.sales.empty")) == [
        "region"
    ]
    with pytest.raises(ValueError, match="already exists"):
        run_table_sql(cat, f"CREATE TABLE silver.sales.empty LIKE {TBL}")


def test_vacuum_retain_hours(spark, tmp_path):
    """VACUUM ... RETAIN n HOURS retires snapshots by their explicit
    COMMIT times (the r12 stamp book), not directory mtimes."""
    import json
    import os
    import time

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=10)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 1 WHERE id = 1")
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 2 WHERE id = 1")
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 3 WHERE id = 1")
    assert len(cat.versions(TBL)) == 3
    # backdate the first two snapshots' COMMIT times by 48h in the book
    p = cat._book_path(TBL)
    with open(p) as fh:
        book = json.load(fh)
    snaps = book["commit"]["snapshots"]
    for label in sorted(snaps)[:2]:
        snaps[label] -= 48 * 3600
    with open(p, "w") as fh:
        json.dump(book, fh)
    # dry run reports, deletes nothing
    would = run_table_sql(cat, f"VACUUM {TBL} RETAIN 24 HOURS DRY RUN")
    assert isinstance(would, int)
    assert len(cat.versions(TBL)) == 3
    run_table_sql(cat, f"VACUUM {TBL} RETAIN 24 HOURS")
    assert len(cat.versions(TBL)) == 1  # only the recent commit stays
    with pytest.raises(UnsupportedStatement, match="number of hours"):
        run_table_sql(cat, f"VACUUM {TBL} RETAIN x HOURS")
    # RETAIN with a huge window retires nothing
    run_table_sql(cat, f"VACUUM {TBL} RETAIN 9999 HOURS")
    assert len(cat.versions(TBL)) == 1


def test_rename_keeps_time_travel_and_commit_clock(spark, tmp_path):
    # the version root (history + commit-time books) moves with the
    # rename: TIMESTAMP AS OF and VERSION AS OF keep working under
    # the new name
    import time

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    _seed(spark, cat)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 99 WHERE id = 1")
    mid = time.time()
    time.sleep(0.3)
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 7 WHERE id = 1")
    time.sleep(0.3)
    between = time.time()  # after the last DATA write, before the rename
    time.sleep(0.3)
    run_table_sql(cat, f"ALTER TABLE {TBL} RENAME TO silver.sales.renamed")
    T2 = "silver.sales.renamed"
    assert {r.id: r.amount for r in cat.read(T2).collect()}[1] == 7.0
    # by version
    old = cat.read_version(T2, version=1)
    assert {r.id: r.amount for r in old.collect()}[1] == 10.0
    # by timestamp: mid falls between commit 2 and commit 3
    got = {r.id: r.amount for r in cat.read_timestamp(T2, mid).collect()}
    assert got[1] == 99.0
    # ADVICE r12: the rename is metadata-only — it must NOT advance the
    # live commit clock. A timestamp between the last data write and
    # the rename resolves to the LIVE state, not an older snapshot.
    assert cat._live_commit_time(T2) < between
    got = {r.id: r.amount for r in cat.read_timestamp(T2, between).collect()}
    assert got[1] == 7.0


def test_materialized_view_over_lazy_view(spark, tmp_path):
    # MV bodies may reference lazy views: the definition resolves
    # through the same fixpoint registration, and REFRESH recomputes
    # through the view to the CURRENT base state
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    run_table_sql(
        cat,
        f"CREATE VIEW gold.s.big AS SELECT * FROM {TBL} WHERE amount >= 30",
    )
    run_table_sql(
        cat,
        "CREATE MATERIALIZED VIEW gold.s.bigsum AS "
        "SELECT region, COUNT(*) AS n FROM gold.s.big GROUP BY region",
    )
    got = {r.region: r.n for r in cat.read("gold.s.bigsum").collect()}
    assert got == {"US": 2, "AP": 1}
    run_table_sql(cat, f"UPDATE {TBL} SET amount = 35 WHERE id = 1")
    # materialized: stale until refreshed
    assert {
        r.region: r.n for r in cat.read("gold.s.bigsum").collect()
    } == got
    run_table_sql(cat, "REFRESH MATERIALIZED VIEW gold.s.bigsum")
    got2 = {r.region: r.n for r in cat.read("gold.s.bigsum").collect()}
    assert got2 == {"EU": 1, "US": 2, "AP": 1}


def test_create_view_rejects_short_names(spark, tmp_path):
    # ADVICE r12: statement references resolve 3-part names only, so
    # a 1-/2-part stored view could never be referenced — refuse at
    # creation with the fix in the message
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    for bad in ("v", "s.v"):
        with pytest.raises(ValueError, match="three-part"):
            cat.create_stored_view(bad, f"SELECT * FROM {TBL}")
    with pytest.raises(ValueError, match="three-part"):
        run_table_sql(cat, f"CREATE VIEW s.v AS SELECT * FROM {TBL}")


def test_parse_travel_ts_iso_beats_numeric():
    # TIMESTAMP AS OF accepts epoch numbers, numeric strings (the SQL
    # front-end always delivers strings), and ISO dates. ISO parsing
    # runs FIRST: fromisoformat also accepts compact dates
    # ('20240102'), which a float() probe would steal and silently
    # misread as ~1970 epoch seconds.
    import datetime

    import pytest as _pytest

    from mydatalake_spark.catalog import Catalog

    p = Catalog._parse_travel_ts
    assert p(1700000000.5) == 1700000000.5
    assert p("1700000000.5") == 1700000000.5
    assert p("20240102") == datetime.datetime(2024, 1, 2).timestamp()
    assert (
        p("2024-01-02 13:45:00")
        == datetime.datetime(2024, 1, 2, 13, 45).timestamp()
    )
    with _pytest.raises(ValueError, match="cannot parse"):
        p("nope")
