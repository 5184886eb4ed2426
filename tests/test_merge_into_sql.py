"""MERGE INTO in the SQL front-end (plans/table_sql.py) and the
generalized clause executor (operators/merge_clauses.py:merge_apply).

The reference's core write is a Delta MERGE (reference
lib/ingestors.py:122-126); a migrating Databricks user carries
``MERGE INTO t USING s ON ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
MATCHED THEN INSERT *`` statements — the one Delta statement the SQL
adapter did not dispatch before r11. Every clause set runs as ONE
full-outer join in the one merge engine (pruned when the hive layout's
columns are merge keys); the canonical upsert shape dedups the source
latest-wins, as merge_upsert does, where other clause sets refuse
duplicate source keys."""

import os

import pytest

from mydatalake_spark.catalog import Catalog, _leaf_partition_files
from mydatalake_spark.operators.merge_clauses import (
    MatchedClause,
    NotMatchedBySourceClause,
    NotMatchedClause,
    merge_apply,
)
from mydatalake_spark.plans.table_sql import (
    UnsupportedStatement,
    _detect_partition_cols,
    run_table_sql,
)

TBL = "silver.sales.orders"
SRC = "bronze.sales.changes"

SCHEMA = "id int, region string, amount double, ts int"


def _seed(spark, cat, partitioned=False):
    df = spark.createDataFrame(
        [
            (1, "EU", 10.0, 100),
            (2, "EU", 20.0, 100),
            (3, "US", 30.0, 100),
            (4, "AP", 40.0, 100),
        ],
        SCHEMA,
    )
    cat.overwrite(df, TBL, partition_by=["region"] if partitioned else None)
    return df


def _changes(spark, cat):
    src = spark.createDataFrame(
        [
            (1, "EU", 11.0, 200),   # newer → update
            (3, "US", 3.0, 50),     # stale → keep target
            (9, "EU", 90.0, 200),   # new key → insert
        ],
        SCHEMA,
    )
    cat.overwrite(src, SRC)
    return src


def test_merge_sql_canonical_upsert_with_ts_guard(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    _changes(spark, cat)
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} AS t USING {SRC} AS s ON t.id = s.id "
        "AND s.ts >= t.ts "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r.id: (r.amount, r.ts) for r in cat.read(TBL).collect()}
    assert got == {
        1: (11.0, 200),   # updated (newer)
        2: (20.0, 100),   # untouched
        3: (30.0, 100),   # stale change KEPT, not duplicated (§7.4(2))
        4: (40.0, 100),
        9: (90.0, 200),   # inserted
    }


def test_merge_sql_partitioned_takes_pruned_path(spark, tmp_path):
    # layout cols ⊆ keys → merge_upsert_partitioned: untouched leaves
    # keep their inodes (never read, never rewritten)
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    src = spark.createDataFrame([(1, "EU", 11.0, 200)], SCHEMA)
    cat.overwrite(src, SRC)
    root = cat.path(TBL)
    before = _leaf_partition_files(root, ["region"])
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id AND t.region = s.region "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    after = _leaf_partition_files(root, ["region"])
    assert after[("US",)] == before[("US",)]
    assert after[("AP",)] == before[("AP",)]
    assert after[("EU",)] != before[("EU",)]
    got = {r.id: r.amount for r in cat.read(TBL).collect()}
    assert got[1] == 11.0 and got[3] == 30.0


def test_merge_sql_using_subquery_and_explicit_clauses(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    _changes(spark, cat)
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t "
        f"USING (SELECT * FROM {SRC} WHERE amount > 5) s "
        "ON t.id = s.id "
        "WHEN MATCHED AND s.ts >= t.ts "
        "  THEN UPDATE SET amount = s.amount + t.amount, ts = s.ts "
        "WHEN NOT MATCHED THEN INSERT (id, region, amount, ts) "
        "  VALUES (s.id, upper(s.region), s.amount, s.ts)",
    )
    got = {r.id: (r.region, r.amount, r.ts) for r in cat.read(TBL).collect()}
    # id=1: explicit SET sums both sides; unmentioned region keeps target
    assert got[1] == ("EU", 21.0, 200)
    # id=3 filtered out by the subquery (amount 3.0 > 5 fails... no:
    # 3.0 < 5 → excluded from source entirely → target untouched)
    assert got[3] == ("US", 30.0, 100)
    assert got[9] == ("EU", 90.0, 200)


def test_merge_sql_matched_delete_and_by_source(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    src = spark.createDataFrame(
        [(1, "EU", 0.0, 999), (2, "EU", 25.0, 999)], SCHEMA
    )
    cat.overwrite(src, SRC)
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id "
        "WHEN MATCHED AND s.amount = 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND t.region = 'AP' THEN DELETE",
    )
    got = {r.id: r.amount for r in cat.read(TBL).collect()}
    # 1 deleted (matched, amount=0); 2 updated; 3 kept (US, not AP);
    # 4 deleted (AP, not in source)
    assert got == {2: 25.0, 3: 30.0}


def test_merge_sql_first_clause_wins_and_literal_keywords(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    src = spark.createDataFrame([(1, "EU", 5.0, 999)], SCHEMA)
    cat.overwrite(src, SRC)
    # literal containing clause keywords must not split the grammar;
    # first matching clause wins even though the second also matches
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id "
        "WHEN MATCHED AND s.amount < 10 "
        "  THEN UPDATE SET region = 'WHEN MATCHED THEN' "
        "WHEN MATCHED THEN DELETE",
    )
    got = {r.id: r.region for r in cat.read(TBL).collect()}
    assert got[1] == "WHEN MATCHED THEN"
    assert set(got) == {1, 2, 3, 4}


def test_merge_sql_out_of_grammar_refusals(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    _changes(spark, cat)
    with pytest.raises(UnsupportedStatement, match="equi-key"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING {SRC} s ON s.ts >= t.ts "
            "WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(UnsupportedStatement, match="bounded"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id + 1 "
            "WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(UnsupportedStatement, match="WHEN"):
        run_table_sql(
            cat, f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id"
        )
    with pytest.raises(UnsupportedStatement, match="INSERT"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id "
            "WHEN NOT MATCHED THEN UPDATE SET *",
        )
    with pytest.raises(UnsupportedStatement, match="neither"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING nope_missing s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE",
        )


def test_merge_sql_duplicate_source_keys_refused(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    src = spark.createDataFrame(
        [(1, "EU", 1.0, 1), (1, "EU", 2.0, 2)], SCHEMA
    )
    cat.overwrite(src, SRC)
    # the general path refuses nondeterministic duplicate source keys
    # (Delta raises too); the canonical upsert path pre-dedups instead
    with pytest.raises(ValueError, match="duplicate join keys"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE",
        )


def test_merge_sql_canonical_dedups_duplicate_source_keys(spark, tmp_path):
    # the canonical upsert shape dedups the changeset latest-wins
    # instead of refusing its duplicate keys (the reference's CDC
    # upsert, merge_upsert's source rule)
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    cat.overwrite(
        spark.createDataFrame(
            [(1, "EU", 1.0, 200), (1, "EU", 2.0, 300), (9, "EU", 9.0, 1)],
            SCHEMA,
        ),
        SRC,
    )
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id "
        "AND s.ts >= t.ts "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r.id: (r.amount, r.ts) for r in cat.read(TBL).collect()}
    assert got == {
        1: (2.0, 300), 2: (20.0, 100), 3: (30.0, 100), 4: (40.0, 100),
        9: (9.0, 1),
    }


def test_merge_sql_ts_guard_null_is_minus_infinity(spark, tmp_path):
    # one null rule for the ON guard whatever the clause set: a null
    # target ts loses to any source ts (merge_upsert's null ≡ -inf),
    # for `>=` and `>` alike
    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([(1, 3, "new")], "k int, ts int, v string")
    cat.overwrite(src, SRC)
    head = f"MERGE INTO {TBL} t USING {SRC} s ON t.k = s.k AND "
    for stmt in (
        "s.ts >= t.ts WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        "s.ts >= t.ts WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.v IS NOT NULL THEN INSERT *",
        "s.ts > t.ts WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    ):
        cat.overwrite(
            spark.createDataFrame(
                [(1, None, "old")], "k int, ts int, v string"
            ),
            TBL,
        )
        run_table_sql(cat, head + stmt)
        assert [tuple(r) for r in cat.read(TBL).collect()] == [
            (1, 3, "new")
        ], stmt


def test_merge_apply_python_surface(spark):
    # the executor directly: pairs with differing names + typed-NULL
    # fill for unlisted INSERT columns
    t = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id int, tag string, v double"
    )
    s = spark.createDataFrame(
        [(1, 99.0), (5, 55.0)], "key int, nv double"
    )
    out = merge_apply(
        t,
        s,
        on=[("id", "key")],
        matched=[MatchedClause(sets={"v": "__s_nv"})],
        not_matched=[
            NotMatchedClause(values={"id": "__s_key", "v": "__s_nv"})
        ],
    ).collect()
    got = {r.id: (r.tag, r.v) for r in out}
    assert got == {1: ("a", 99.0), 2: ("b", 20.0), 5: (None, 55.0)}


def test_merge_apply_null_keys_match_null_safe(spark):
    t = spark.createDataFrame([(None, 1.0)], "id int, v double")
    s = spark.createDataFrame([(None, 9.0)], "id int, v double")
    out = merge_apply(
        t, s, on=["id"],
        matched=[MatchedClause(update_all=True)],
        not_matched=[NotMatchedClause(insert_all=True)],
    ).collect()
    assert len(out) == 1 and out[0].v == 9.0


def test_merge_apply_by_source_update(spark):
    t = spark.createDataFrame(
        [(1, "live"), (2, "live")], "id int, status string"
    )
    s = spark.createDataFrame([(1,)], "id int")
    out = merge_apply(
        t, s, on=["id"],
        not_matched_by_source=[
            NotMatchedBySourceClause(sets={"status": "'orphaned'"})
        ],
    ).collect()
    assert {r.id: r.status for r in out} == {1: "live", 2: "orphaned"}


def test_merge_apply_partitioned_prunes_untouched_leaves(spark, tmp_path):
    # general clause set (conditional UPDATE + conditional INSERT) on
    # a hive layout whose columns are same-named merge keys: only the
    # changeset's partitions are read/rewritten
    from mydatalake_spark.operators.merge_clauses import (
        merge_apply_partitioned,
    )

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    _seed(spark, cat, partitioned=True)
    src = spark.createDataFrame(
        [(1, "EU", 100.0, 500), (99, "EU", 9.0, 500)], SCHEMA
    )
    root = cat.path(TBL)
    before = _leaf_partition_files(root, ["region"])
    touched = merge_apply_partitioned(
        cat, TBL, src, [("id", "id"), ("region", "region")],
        matched=[MatchedClause(sets={"amount": "__s_amount"})],
        not_matched=[NotMatchedClause(insert_all=True)],
    )
    assert touched == [("EU",)]
    after = _leaf_partition_files(root, ["region"])
    assert after[("US",)] == before[("US",)]
    assert after[("AP",)] == before[("AP",)]
    got = {r.id: r.amount for r in cat.read(TBL).collect()}
    assert got[1] == 100.0 and got[99] == 9.0 and got[3] == 30.0
    # the in-place leaf swap committed a version
    assert len(cat.versions(TBL)) == 1


def test_merge_apply_partitioned_refusals(spark, tmp_path):
    from mydatalake_spark.operators.merge_clauses import (
        merge_apply_partitioned,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    src = spark.createDataFrame([(1, "EU", 0.0, 1)], SCHEMA)
    with pytest.raises(ValueError, match="same-named merge key"):
        merge_apply_partitioned(
            cat, TBL, src, [("id", "id")],
            matched=[MatchedClause(update_all=True)],
        )
    with pytest.raises(ValueError, match="DELETE"):
        merge_apply_partitioned(
            cat, TBL, src, ["id", "region"],
            matched=[MatchedClause(sets=None)],
        )
    with pytest.raises(ValueError, match="partition column"):
        merge_apply_partitioned(
            cat, TBL, src, ["id", "region"],
            matched=[MatchedClause(sets={"region": "'XX'"})],
        )


def test_merge_sql_general_clauses_take_pruned_path(spark, tmp_path):
    # SQL route: non-canonical clause set, prunable layout — untouched
    # leaves keep their inodes
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    src = spark.createDataFrame([(1, "EU", 5.0, 999)], SCHEMA)
    cat.overwrite(src, SRC)
    root = cat.path(TBL)
    before = _leaf_partition_files(root, ["region"])
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id AND t.region = s.region "
        "WHEN MATCHED AND s.amount < 10 "
        "  THEN UPDATE SET amount = s.amount * 2 "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    after = _leaf_partition_files(root, ["region"])
    assert after[("US",)] == before[("US",)]
    assert after[("AP",)] == before[("AP",)]
    assert after[("EU",)] != before[("EU",)]
    assert {r.id: r.amount for r in cat.read(TBL).collect()}[1] == 10.0
    # a DELETE-bearing clause set still works (whole-table fallback)
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id AND t.region = s.region "
        "WHEN MATCHED THEN DELETE",
    )
    assert 1 not in {r.id for r in cat.read(TBL).collect()}
    assert _detect_partition_cols(root) == ["region"]


def test_merge_with_schema_evolution(spark, tmp_path):
    # Databricks MERGE WITH SCHEMA EVOLUTION INTO: source-added
    # columns append to the target as typed NULLs for pre-existing
    # rows; without the clause the same statement is refused
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    wide = spark.createDataFrame(
        [(1, "EU", 11.0, 200, "gold"), (9, "EU", 90.0, 200, "silver")],
        SCHEMA + ", tier string",
    )
    cat.overwrite(wide, SRC)
    with pytest.raises(ValueError, match="identical"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING {SRC} s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    run_table_sql(
        cat,
        f"MERGE WITH SCHEMA EVOLUTION INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r.id: (r.amount, r.tier) for r in cat.read(TBL).collect()}
    assert got[1] == (11.0, "gold")     # updated, new column filled
    assert got[2] == (20.0, None)       # untouched row: typed NULL
    assert got[9] == (90.0, "silver")   # inserted with the new column
    # general clause sets evolve too
    wide2 = spark.createDataFrame(
        [(2, "EU", 0.0, 300, "x", 42)], SCHEMA + ", tier string, rank int"
    )
    cat.overwrite(wide2, SRC)
    run_table_sql(
        cat,
        f"MERGE WITH SCHEMA EVOLUTION INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id "
        "WHEN MATCHED AND s.rank > 0 THEN UPDATE SET amount = s.amount, "
        "rank = s.rank",
    )
    got2 = {r.id: (r.amount, r.rank) for r in cat.read(TBL).collect()}
    assert got2[2] == (0.0, 42)
    assert got2[1] == (11.0, None)

def test_pruned_merge_refuses_partition_unsafe_insert(spark, tmp_path):
    # ADVICE r11 (high): a NOT MATCHED INSERT that omits a partition
    # column (NULL-filled) or assigns it anything but __s_<pcol> would
    # place rows outside the probed leaf set — the swap would silently
    # drop them. The executor refuses by name.
    from mydatalake_spark.operators.merge_clauses import (
        merge_apply_partitioned,
        nm_partition_violations,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    src = spark.createDataFrame([(99, "EU", 9.0, 500)], SCHEMA)
    # omitted partition column → NULL-filled → refused
    with pytest.raises(ValueError, match="source row's partition"):
        merge_apply_partitioned(
            cat, TBL, src, ["id", "region"],
            not_matched=[NotMatchedClause(values={
                "id": "__s_id", "amount": "__s_amount", "ts": "__s_ts",
            })],
        )
    # literal partition value → refused
    with pytest.raises(ValueError, match="source row's partition"):
        merge_apply_partitioned(
            cat, TBL, src, ["id", "region"],
            not_matched=[NotMatchedClause(values={
                "id": "__s_id", "region": "'XX'",
                "amount": "__s_amount", "ts": "__s_ts",
            })],
        )
    # explicit __s_<pcol> (string or Column) is safe → runs pruned
    from pyspark.sql import functions as F

    assert nm_partition_violations(
        [NotMatchedClause(values={"region": F.col("__s_region")})],
        ["region"],
    ) == []
    # ADVICE r12: structural comparison, not repr-literal — a Column
    # built as df[name] (repr may embed a plan id) is equally safe,
    # and computed/renamed Columns still refuse
    src_sel = src.selectExpr(*[f"{c} AS __s_{c}" for c in src.columns])
    assert nm_partition_violations(
        [NotMatchedClause(values={"region": src_sel["__s_region"]})],
        ["region"],
    ) == []
    assert nm_partition_violations(
        [NotMatchedClause(values={"region": F.lit("__s_region")})],
        ["region"],
    )
    assert nm_partition_violations(
        [NotMatchedClause(
            values={"region": F.col("__s_region").substr(1, 1)}
        )],
        ["region"],
    )
    touched = merge_apply_partitioned(
        cat, TBL, src, ["id", "region"],
        not_matched=[NotMatchedClause(values={
            "id": "__s_id", "region": "__s_region",
            "amount": "__s_amount", "ts": "__s_ts",
        })],
    )
    assert touched == [("EU",)]
    assert {r.id for r in cat.read(TBL).collect()} == {1, 2, 3, 4, 99}


def test_merge_sql_partition_unsafe_insert_falls_back_whole_table(
    spark, tmp_path
):
    # SQL route for the same hazard: the statement still EXECUTES
    # (whole-table staging rewrite), and the inserted row SURVIVES in
    # the partition its VALUES actually assigned.
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    src = spark.createDataFrame([(99, "EU", 9.0, 500)], SCHEMA)
    cat.overwrite(src, SRC)
    root = cat.path(TBL)
    before = _leaf_partition_files(root, ["region"])
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id AND t.region = s.region "
        "WHEN NOT MATCHED THEN INSERT (id, region, amount, ts) "
        "  VALUES (s.id, 'XX', s.amount, s.ts)",
    )
    got = {r.id: r.region for r in cat.read(TBL).collect()}
    assert got[99] == "XX"          # row present, NOT silently dropped
    assert len(got) == 5
    # whole-table path: even untouched partitions were rewritten
    after = _leaf_partition_files(root, ["region"])
    assert after[("US",)] != before[("US",)]
    # and the same-named assignment still takes the pruned path
    src2 = spark.createDataFrame([(100, "AP", 1.0, 1)], SCHEMA)
    cat.overwrite(src2, SRC)
    before2 = _leaf_partition_files(root, ["region"])
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING {SRC} s "
        "ON t.id = s.id AND t.region = s.region "
        "WHEN NOT MATCHED THEN INSERT (id, region, amount, ts) "
        "  VALUES (s.id, s.region, s.amount, s.ts)",
    )
    after2 = _leaf_partition_files(root, ["region"])
    assert after2[("US",)] == before2[("US",)]
    assert after2[("EU",)] == before2[("EU",)]
    assert {r.id for r in cat.read(TBL).collect()} >= {99, 100}


def test_merge_using_time_traveled_source(spark, tmp_path):
    # VERDICT r12 ask #6: MERGE INTO t USING s VERSION AS OF n — replay
    # yesterday's changeset (the repair story). The merge from
    # `s VERSION AS OF 1` must equal the merge from the materialized v1
    # frame; the live source state must NOT leak in.
    import time

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    _seed(spark, cat)
    _changes(spark, cat)          # source v1: updates 1, stale 3, new 9
    v1 = cat.read(SRC).collect()
    time.sleep(0.3)
    mid = time.time()             # between source commit 1 and 2
    time.sleep(0.3)
    poison = spark.createDataFrame([(1, "EU", -1.0, 999)], SCHEMA)
    cat.overwrite(poison, SRC)    # source v2 (live): would corrupt

    stmt_tail = (
        "ON t.id = s.id AND s.ts >= t.ts "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} AS t USING {SRC} VERSION AS OF 1 AS s "
        + stmt_tail,
    )
    got = {r.id: (r.amount, r.ts) for r in cat.read(TBL).collect()}
    # identical to merging the materialized v1 frame
    expect = {r.id: (r.amount, r.ts) for r in v1}
    assert got == {
        1: (11.0, 200), 2: (20.0, 100), 3: (30.0, 100),
        4: (40.0, 100), 9: (90.0, 200),
    }
    assert got[1] == expect[1] and got[9] == expect[9]
    assert got[1][0] != -1.0      # live poison row did not leak

    # TIMESTAMP AS OF addressing resolves through the same commit
    # clock; default alias (bare table leaf) also accepted
    cat2 = Catalog(spark, str(tmp_path / "wh2"), keep_versions=4)
    _seed(spark, cat2)
    _changes(spark, cat2)
    time.sleep(0.3)
    mid2 = time.time()
    time.sleep(0.3)
    cat2.overwrite(poison, SRC)
    run_table_sql(
        cat2,
        f"MERGE INTO {TBL} AS t USING {SRC} TIMESTAMP AS OF "
        f"'{mid2}' AS s " + stmt_tail,
    )
    got2 = {r.id: (r.amount, r.ts) for r in cat2.read(TBL).collect()}
    assert got2 == got

    with pytest.raises(UnsupportedStatement, match="integer"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} AS t USING {SRC} VERSION AS OF x AS s "
            + stmt_tail,
        )


@pytest.mark.parametrize("partitioned", [False, True])
def test_every_dml_statement_commits_one_version(spark, tmp_path, partitioned):
    """Versioning is the catalog's keep_versions alone: each MERGE
    (canonical and clause form), DELETE and UPDATE retains exactly one
    version, on the pruned partitioned paths as on whole-table ones."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=10)
    _seed(spark, cat, partitioned=partitioned)
    _changes(spark, cat)
    on = "ON t.id = s.id AND t.region = s.region "
    for sql in (
        f"MERGE INTO {TBL} t USING {SRC} s {on}"
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        f"MERGE INTO {TBL} t USING {SRC} s {on}"
        "WHEN MATCHED AND s.amount < 50 THEN UPDATE SET amount = s.amount * 2 "
        "WHEN NOT MATCHED THEN INSERT *",
        f"DELETE FROM {TBL} WHERE id = 2",
        f"UPDATE {TBL} SET amount = amount + 1 WHERE id = 3",
    ):
        before = cat.versions(TBL)
        run_table_sql(cat, sql)
        after = cat.versions(TBL)
        assert after[:-1] == before and len(after) == len(before) + 1, (
            sql, before, after,
        )
