"""Durability of the version-root metadata books across lifecycle
operations — regression tests for the r13 code-review findings: vacuum
must never strip declarations, MERGE must honor the identity ALWAYS
rule, failed DDL must not half-apply, LIKE must carry the full
declared surface, and the comment book must follow column DDL."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mydatalake_spark.catalog import Catalog
from mydatalake_spark.plans.table_sql import run_table_sql

TBL = "silver.sales.t"


def test_vacuum_preserves_metadata_books(spark, tmp_path):
    # vacuum(keep=0) on a keep_versions=0 catalog: no versions exist,
    # so the old code rmtree'd the version root — taking the identity
    # high-water, CLUSTER BY declaration, comments and TBLPROPERTIES
    # with it. Books must outlive any vacuum; only DROP/TRUNCATE end
    # the lifecycle.
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)",
    )
    run_table_sql(cat, f"INSERT INTO {TBL} (v) VALUES ('a'), ('b')")
    run_table_sql(cat, f"COMMENT ON TABLE {TBL} IS 'keep'")
    run_table_sql(
        cat, f"ALTER TABLE {TBL} SET TBLPROPERTIES ('k' = 'v')"
    )
    cat.vacuum(TBL, keep=0)
    assert "sk" in cat.identity_columns(TBL)
    assert cat.identity_columns(TBL)["sk"]["high"] == 2
    assert cat.table_comment(TBL) == "keep"
    assert cat.table_properties(TBL) == {"k": "v"}
    # the next insert continues the sequence instead of NULL-filling
    run_table_sql(cat, f"INSERT INTO {TBL} (v) VALUES ('c')")
    got = sorted(r.sk for r in cat.read(TBL).collect())
    assert got == [1, 2, 3]
    # clustered declaration survives too
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    src = spark.range(100).select(
        (F.col("id") % 7).alias("a"), F.col("id").alias("b")
    )
    cat2.overwrite(src, "b.s.raw")
    run_table_sql(
        cat2, "CREATE TABLE b.s.c CLUSTER BY (a) AS SELECT * FROM b.s.raw"
    )
    cat2.vacuum("b.s.c", keep=0)
    assert cat2.declared_cluster_cols("b.s.c") == ["a"]


def test_merge_refuses_explicit_identity_values(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY, k INT, v STRING)",
    )
    run_table_sql(
        cat, f"INSERT INTO {TBL} (k, v) VALUES (1, 'a'), (2, 'b')"
    )
    src = spark.createDataFrame(
        [(999, 2, "x"), (998, 9, "y")], "sk long, k int, v string"
    )
    cat.overwrite(src, "b.s.changes")
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENT"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING b.s.changes s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (sk, k, v) "
            "VALUES (s.sk, s.k, s.v)",
        )
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENT"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING b.s.changes s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET sk = 12345",
        )
    # an INSERT list OMITTING the identity column still allocates:
    # the inserted rows arrive with a NULL slot and the allocator
    # fills it above the high-water mark
    run_table_sql(
        cat,
        f"MERGE INTO {TBL} t USING b.s.changes s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
    )
    got = {r.k: r.sk for r in cat.read(TBL).collect()}
    # engine-assigned above the high-water: unique, never NULL, never
    # a reuse of 1/2 (gaps are fine — Delta's documented behavior)
    assert len(set(got.values())) == 3
    assert all(v is not None for v in got.values())
    assert got[9] > 2
    assert cat.identity_columns(TBL)["sk"]["high"] >= got[9]


def test_failed_drop_column_restores_declarations(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY, a INT, b BIGINT) "
        "CLUSTER BY (a)",
    )
    run_table_sql(
        cat, f"INSERT INTO {TBL} (a, b) VALUES (1, 10), (2, 20)"
    )
    before = cat.identity_columns(TBL)
    assert before["sk"]["high"] == 2
    # dropping sk together with the CLUSTER BY column fails in the
    # rewrite (declared cluster column missing from the frame) — the
    # identity declaration must survive the failed statement
    with pytest.raises(ValueError, match=r"\['a'\]"):
        run_table_sql(cat, f"ALTER TABLE {TBL} DROP COLUMNS (sk, a)")
    assert cat.identity_columns(TBL) == before
    assert "sk" in cat.read(TBL).columns


def test_create_table_like_carries_identity_and_comments(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 5 "
        "INCREMENT BY 2), v STRING COMMENT 'val') "
        "COMMENT 'tbl' TBLPROPERTIES ('p' = 'q')",
    )
    run_table_sql(cat, f"INSERT INTO {TBL} (v) VALUES ('a')")
    run_table_sql(cat, f"CREATE TABLE silver.sales.c LIKE {TBL}")
    ispec = cat.identity_columns("silver.sales.c")["sk"]
    assert (ispec["start"], ispec["step"]) == (5, 2)
    assert ispec["high"] is None         # fresh counter, empty copy
    assert cat.table_comment("silver.sales.c") == "tbl"
    assert cat.column_comments("silver.sales.c") == {"v": "val"}
    assert cat.table_properties("silver.sales.c") == {"p": "q"}
    run_table_sql(
        cat, "INSERT INTO silver.sales.c (v) VALUES ('x'), ('y')"
    )
    got = sorted(r.sk for r in cat.read("silver.sales.c").collect())
    assert got == [5, 7]                 # allocated, not NULL-filled


def test_failed_ctas_does_not_orphan_cluster_declaration(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(10).select(
        (F.col("id") % 3).alias("a"), F.col("id").alias("b")
    )
    cat.overwrite(src, "b.s.raw")
    with pytest.raises(Exception, match="boom"):
        run_table_sql(
            cat,
            f"CREATE TABLE {TBL} CLUSTER BY (a) AS "
            "SELECT a, b, raise_error('boom') AS c FROM b.s.raw",
        )
    assert not cat.exists(TBL)
    assert cat.declared_cluster_cols(TBL) is None
    # the name is NOT wedged: a different layout now succeeds
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} PARTITIONED BY (a) "
        "AS SELECT * FROM b.s.raw",
    )
    assert cat.read(TBL).count() == 10


def test_column_comments_follow_rename_and_drop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "id int, c string, z double"
    )
    cat.overwrite(df, TBL)
    run_table_sql(cat, f"COMMENT ON COLUMN {TBL}.c IS 'pii'")
    run_table_sql(cat, f"COMMENT ON COLUMN {TBL}.z IS 'zz'")
    run_table_sql(cat, f"ALTER TABLE {TBL} RENAME COLUMN c TO d")
    assert cat.column_comments(TBL) == {"d": "pii", "z": "zz"}
    run_table_sql(cat, f"ALTER TABLE {TBL} DROP COLUMN z")
    assert cat.column_comments(TBL) == {"d": "pii"}
    # a future same-named column does NOT inherit the ghost comment
    run_table_sql(cat, f"ALTER TABLE {TBL} ADD COLUMNS (z INT)")
    assert cat.column_comments(TBL) == {"d": "pii"}


def test_merge_star_expansion_refuses_identity_carrying_source(
    spark, tmp_path
):
    # SET */INSERT * copy source values verbatim, so a source that
    # CARRIES the identity column would write explicit ids with no
    # high-water bump (Delta refuses this too). Sources without the
    # column are refused by the star column-match rule downstream;
    # explicit lists omitting it remain the supported CDC shape.
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY, k INT, v STRING)",
    )
    run_table_sql(cat, f"INSERT INTO {TBL} (k, v) VALUES (1, 'a')")
    src = spark.createDataFrame(
        [(999, 1, "x"), (998, 9, "y")], "sk long, k int, v string"
    )
    cat.overwrite(src, "b.s.changes")
    with pytest.raises(ValueError, match="carries"):
        run_table_sql(
            cat,
            f"MERGE INTO {TBL} t USING b.s.changes s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    assert cat.identity_columns(TBL)["sk"]["high"] == 1
    assert {r.sk for r in cat.read(TBL).collect()} == {1}


def test_redeclaring_cluster_keys_invalidates_file_book(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5_000).select(
        (F.hash("id") % 97).alias("x"),
        (F.hash(F.col("id") + 1) % 97).alias("y"),
        F.col("id").alias("v"),
    )
    cat.overwrite(src, "b.s.raw")
    run_table_sql(
        cat, f"CREATE TABLE {TBL} CLUSTER BY (x) AS SELECT * FROM b.s.raw"
    )
    assert cat.clustered_files(TBL)        # marked by the write
    run_table_sql(cat, f"ALTER TABLE {TBL} CLUSTER BY (x, y)")
    # the book certified the OLD keys' layout — it must not survive
    assert cat.clustered_files(TBL) == set()
    # so the next OPTIMIZE actually re-clusters (not a silent no-op)
    assert run_table_sql(cat, f"OPTIMIZE {TBL}") >= 1
    assert cat.clustered_files(TBL)


def test_failed_replace_ctas_does_not_leave_new_declaration(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    cat.overwrite(df, TBL)                 # no 'c' column
    cat.overwrite(
        spark.range(10).select((F.col("id") % 3).alias("c")), "b.s.src"
    )
    with pytest.raises(Exception, match="boom"):
        run_table_sql(
            cat,
            f"CREATE OR REPLACE TABLE {TBL} CLUSTER BY (c) AS "
            "SELECT c, raise_error('boom') AS z FROM b.s.src",
        )
    # the old table survived — it must NOT carry the new declaration
    # (its own schema has no 'c'; every overwrite would wedge)
    assert cat.declared_cluster_cols(TBL) is None
    cat.overwrite(df, TBL)                 # still writable
    assert cat.read(TBL).count() == 1


def test_comment_on_missing_column_still_refused_after_ddl(
    spark, tmp_path
):
    # the DDL book edits went internal; the public statement keeps its
    # validation — including the IS NULL form
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite(spark.createDataFrame([(1,)], "id int"), TBL)
    with pytest.raises(ValueError, match="typo"):
        run_table_sql(cat, f"COMMENT ON COLUMN {TBL}.typo IS NULL")


def test_identity_sync_on_carried_values_and_type_guard(
    spark, tmp_path
):
    # Carried values PAST the high-water (externally loaded files with
    # pre-assigned ids) move the book — Delta SYNC IDENTITY — so a
    # later allocation can never mint one of them again.
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)",
    )
    run_table_sql(cat, f"INSERT INTO {TBL} (v) VALUES ('a')")  # sk=1
    carried = spark.createDataFrame(
        [(150, "x"), (200, "y")], "sk long, v string"
    )
    cat.append(carried, TBL)               # library path carries ids
    assert cat.identity_columns(TBL)["sk"]["high"] == 200
    run_table_sql(cat, f"INSERT INTO {TBL} (v) VALUES ('b')")
    ids = sorted(r.sk for r in cat.read(TBL).collect())
    assert len(ids) == len(set(ids)) == 4
    assert ids[-1] > 200                   # allocated past the sync

    # the reserved range must fit the declared type: an INT identity
    # about to cross 2^31 raises instead of wrapping negative
    run_table_sql(
        cat,
        "CREATE TABLE silver.sales.narrow ("
        "sk INT GENERATED ALWAYS AS IDENTITY (START WITH 2147483646), "
        "v STRING)",
    )
    run_table_sql(
        cat, "INSERT INTO silver.sales.narrow (v) VALUES ('a'), ('b')"
    )
    with pytest.raises(ValueError, match="range"):
        run_table_sql(
            cat, "INSERT INTO silver.sales.narrow (v) VALUES ('c')"
        )


def test_identity_optional_clause_grammar(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(
        cat,
        f"CREATE TABLE {TBL} ("
        "sk BIGINT GENERATED ALWAYS AS IDENTITY (INCREMENT BY 3), "
        "v STRING)",
    )
    spec = cat.identity_columns(TBL)["sk"]
    assert (spec["start"], spec["step"]) == (1, 3)
    run_table_sql(cat, f"INSERT INTO {TBL} (v) VALUES ('a'), ('b')")
    assert sorted(r.sk for r in cat.read(TBL).collect()) == [1, 4]


def test_monotonic_appends_compact_without_overlap(spark, tmp_path):
    # time-series shape: every appended file's key range sits strictly
    # above the previous max — no overlaps ever, but OPTIMIZE must
    # still bin-pack the accumulating small files (the size arm),
    # not report success-as-no-op forever.
    import glob

    cat = Catalog(spark, str(tmp_path / "wh"))
    run_table_sql(cat, f"CREATE TABLE {TBL} (k BIGINT, v BIGINT)")
    run_table_sql(cat, f"ALTER TABLE {TBL} CLUSTER BY (k)")
    for day in range(6):
        inc = spark.range(day * 1000, (day + 1) * 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        cat.append(inc.coalesce(1), TBL)
    files_before = len(glob.glob(cat.path(TBL) + "/*.parquet"))
    assert files_before >= 6
    from mydatalake_spark.maintenance import optimize_table

    n = optimize_table(cat, TBL)           # default 128MB target
    assert n >= 1
    files_after = len(glob.glob(cat.path(TBL) + "/*.parquet"))
    assert files_after < files_before
    assert cat.read(TBL).count() == 6000
    # and the result is still globally disjoint on k
    import pyarrow.parquet as pq

    rgs = []
    for f in glob.glob(cat.path(TBL) + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            c = md.row_group(rg).column(0)
            if c.path_in_schema == "k":
                rgs.append((c.statistics.min, c.statistics.max))
    rgs.sort()
    for (l1, h1), (l2, h2) in zip(rgs, rgs[1:]):
        assert h1 <= l2


def test_copy_into_abandon_sweeps_partial_files(spark, tmp_path):
    # a crashed copy_into can leave txn-prefixed files live with no
    # token; abandoning the pending batch must sweep them, or the
    # retry (different txn id) double-loads those rows
    import json
    import os

    from mydatalake_spark.ingest import copy_into

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite(
        spark.createDataFrame([(0, "seed")], "id long, v string"), TBL
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).coalesce(1).write.mode("overwrite").parquet(str(drop / "batch1"))
    # forge the crash: pending record written, half the batch moved in
    pend = {
        "txn": "deadbeef",
        "files": sorted(
            str(p) for p in (drop / "batch1").glob("part-*.parquet")
        ),
    }
    pending_path = os.path.join(
        cat._version_root(TBL), ".copy_into.pending.json"
    )
    os.makedirs(os.path.dirname(pending_path), exist_ok=True)
    with open(pending_path, "w") as fh:
        json.dump(pend, fh)
    import shutil

    src_file = pend["files"][0]
    shutil.copy2(
        src_file,
        os.path.join(
            cat.path(TBL), f"txn-deadbeef-{os.path.basename(src_file)}"
        ),
    )
    cat._invalidate(TBL)
    assert cat.read(TBL).count() == 3      # partial rows ARE live
    loaded = copy_into(
        cat, TBL, str(drop / "batch1") + "/*.parquet",
        file_format="parquet", abandon_pending=True,
    )
    # the partial file was swept BEFORE the fresh batch loaded, so
    # each source row appears exactly once
    got = sorted(
        (r.id, r.v) for r in cat.read(TBL).collect()
    )
    assert got == [(0, "seed"), (1, "a"), (2, "b")], got
    assert loaded == 2


def test_concurrent_property_writes_and_commits_lose_no_update(
    spark, tmp_path
):
    # one book per table holds both the commit record and the
    # definition: every read-modify-write of it must serialize, or a
    # commit's update and a TBLPROPERTIES edit racing it overwrite
    # each other's keys
    import sys
    import threading

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=10)
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    cat.overwrite(df, TBL)
    commits = 3
    start = threading.Barrier(5)
    errors = []

    def props(w):
        try:
            start.wait()
            for i in range(25):
                cat.set_table_properties(TBL, {f"w{w}_k{i}": str(i)})
        except BaseException as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    def overwrites():
        try:
            start.wait()
            for i in range(commits):
                cat.overwrite_via_staging(
                    df.withColumn("v", F.lit(f"c{i}")), TBL
                )
        except BaseException as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    threads = [threading.Thread(target=props, args=(w,)) for w in range(4)]
    threads.append(threading.Thread(target=overwrites))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    tp = cat.table_properties(TBL)
    assert len(tp) == 100
    assert all(f"w{w}_k{i}" in tp for w in range(4) for i in range(25))
    assert len(cat.versions(TBL)) == commits
    assert cat._book(TBL)["commit"]["hwm"] == commits
    assert cat.read(TBL).first().v == f"c{commits - 1}"


def test_one_commit_writes_one_book_update(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)

    def batch(v):
        return spark.createDataFrame([(1, v)], "id int, v string")

    cat.overwrite_via_staging(batch("a"), TBL)
    cat.overwrite_via_staging(batch("b"), TBL)
    root = cat._version_root(TBL)

    def listing():
        return {
            e: (os.stat(os.path.join(root, e)).st_ino,
                os.stat(os.path.join(root, e)).st_mtime_ns)
            for e in os.listdir(root)
        }

    before = listing()
    cat.overwrite_via_staging(batch("c"), TBL)
    after = listing()
    touched = {e for e in after if before.get(e) != after[e]}
    assert touched == {"v00000002", ".book.json"}
    assert set(before) - set(after) == set()
    # a crash between the data swap and the book update: the swap
    # stands, and the orphaned snapshot still holds its number
    real_update = cat._update_book

    def crash(*_a, **_k):
        raise OSError("crash before the book update")

    monkeypatch.setattr(cat, "_update_book", crash)
    with pytest.raises(OSError, match="crash"):
        cat.overwrite_via_staging(batch("d"), TBL)
    monkeypatch.setattr(cat, "_update_book", real_update)
    assert cat.read(TBL).first().v == "d"
    assert cat.versions(TBL) == ["v00000002", "v00000003"]
    assert cat._book(TBL)["commit"]["hwm"] == 2
    cat.overwrite_via_staging(batch("e"), TBL)
    assert cat.versions(TBL) == ["v00000003", "v00000004"]
    assert cat.read_version(TBL, version=3).first().v == "c"
    assert cat.read(TBL).first().v == "e"
    # every write mode: one commit, one book update
    for mode, (seed, write, _rows_after) in sorted(WRITE_MODES.items()):
        c = Catalog(spark, str(tmp_path / mode), keep_versions=2)
        seed(c, spark)
        calls = []
        real = c._update_book

        def counted(*a, _real=real, _calls=calls, **k):
            _calls.append(a[0])
            return _real(*a, **k)

        c._update_book = counted
        write(c, spark)
        assert len(calls) == 1, (mode, calls)


# --- one commit protocol: every write mode stages, then publishes ----

PT = "silver.sales.p"
SEED = {(1, "a", "x"), (2, "b", "x")}


def _prows(spark, *rows):
    return spark.createDataFrame(list(rows), "id int, p string, v string")


def _pseed(cat, spark):
    cat.overwrite(_prows(spark, *sorted(SEED)), PT, partition_by=["p"])


def _restore_seed(cat, spark):
    _pseed(cat, spark)
    cat.overwrite(_prows(spark, (9, "c", "y")), PT, partition_by=["p"])


def _merge_upsert(cat, spark):
    from mydatalake_spark.operators.merge import merge_upsert_partitioned

    merge_upsert_partitioned(
        cat, PT, _prows(spark, (1, "a", "new")), ["id", "p"], "p"
    )


def _merge_clauses(cat, spark):
    from mydatalake_spark.operators.merge_clauses import (
        MatchedClause,
        NotMatchedClause,
        merge_apply_partitioned,
    )

    merge_apply_partitioned(
        cat, PT, _prows(spark, (1, "a", "new")), ["id", "p"],
        matched=[MatchedClause(sets={"v": "__s_v"})],
        not_matched=[NotMatchedClause(insert_all=True)],
    )


def _delete(cat, spark):
    from mydatalake_spark.operators.dml import delete_where

    delete_where(cat, PT, "id = 1", partition_cols=["p"])


def _update(cat, spark):
    from mydatalake_spark.operators.dml import update_where

    update_where(cat, PT, {"v": "'new'"}, "id = 1", partition_cols=["p"])


def _optimize(cat, spark):
    from mydatalake_spark.maintenance import optimize_table

    optimize_table(cat, PT, where="p = 'a'")


#: write mode → (seed, write, live rows after the write)
WRITE_MODES = {
    "overwrite": (
        _pseed,
        lambda cat, spark: cat.overwrite(
            _prows(spark, (1, "a", "new")), PT, partition_by=["p"]
        ),
        {(1, "a", "new")},
    ),
    "overwrite_via_staging": (
        _pseed,
        lambda cat, spark: cat.overwrite_via_staging(
            _prows(spark, (1, "a", "new")), PT, partition_by=["p"]
        ),
        {(1, "a", "new")},
    ),
    "append": (
        _pseed,
        lambda cat, spark: cat.append(_prows(spark, (3, "a", "new")), PT),
        SEED | {(3, "a", "new")},
    ),
    "append_txn_create": (
        lambda cat, spark: None,
        lambda cat, spark: cat.append(
            _prows(spark, (3, "a", "new")), PT, partition_by=["p"],
            txn_id="t1",
        ),
        {(3, "a", "new")},
    ),
    "overwrite_partitions": (
        _pseed,
        lambda cat, spark: cat.overwrite_partitions(
            _prows(spark, (1, "a", "new")), PT, "p", ["a"]
        ),
        {(1, "a", "new"), (2, "b", "x")},
    ),
    "merge_upsert_partitioned": (
        _pseed, _merge_upsert, {(1, "a", "new"), (2, "b", "x")}
    ),
    "merge_apply_partitioned": (
        _pseed, _merge_clauses, {(1, "a", "new"), (2, "b", "x")}
    ),
    "delete_where": (_pseed, _delete, {(2, "b", "x")}),
    "update_where": (_pseed, _update, {(1, "a", "new"), (2, "b", "x")}),
    "optimize_where": (_pseed, _optimize, SEED),
    "restore": (_restore_seed, lambda cat, spark: cat.restore(PT, version=1), SEED),
}


def _live(cat):
    if not cat.exists(PT):
        return None
    return {(r.id, r.p, r.v) for r in cat.read(PT).collect()}


@pytest.mark.parametrize("mode", sorted(WRITE_MODES))
def test_failed_write_leaves_table_and_versions(
    spark, tmp_path, monkeypatch, mode
):
    """A data write that raises commits nothing: the old rows stay
    readable and no version is retained for it."""
    from pyspark.sql.readwriter import DataFrameWriter

    seed, write, _rows_after = WRITE_MODES[mode]
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    seed(cat, spark)
    before, versions = _live(cat), cat.versions(PT)

    def fail(*_a, **_k):
        raise OSError("write failed")

    monkeypatch.setattr(DataFrameWriter, "save", fail)
    monkeypatch.setattr(shutil, "copytree", fail)  # restore's link copy
    with pytest.raises(OSError, match="write failed"):
        write(cat, spark)
    monkeypatch.undo()
    assert _live(cat) == before
    assert cat.versions(PT) == versions


@pytest.mark.parametrize("mode", sorted(WRITE_MODES))
def test_crash_before_book_update_keeps_swap_and_numbering(
    spark, tmp_path, monkeypatch, mode
):
    """A crash between the swap and the book update: the new rows are
    live, and the next commit numbers past the orphaned snapshot."""
    seed, write, rows_after = WRITE_MODES[mode]
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    seed(cat, spark)
    top = int((cat.versions(PT) or ["v0"])[-1][1:])

    def crash(*_a, **_k):
        raise OSError("crash before the book update")

    monkeypatch.setattr(cat, "_update_book", crash)
    with pytest.raises(OSError, match="crash"):
        write(cat, spark)
    monkeypatch.undo()
    assert _live(cat) == rows_after
    orphan = int((cat.versions(PT) or ["v0"])[-1][1:])
    assert orphan == (top if mode == "append_txn_create" else top + 1)
    if mode == "append_txn_create":
        # the replay finds the batch landed and records it, once
        assert write(cat, spark) == 1
        assert _live(cat) == rows_after
    cat.overwrite_via_staging(_prows(spark, (7, "a", "z")), PT)
    assert cat.versions(PT)[-1] == f"v{orphan + 1:08d}"


@pytest.mark.parametrize("keep_versions", [0, 2])
def test_overwrite_failing_or_self_reading_keeps_the_table(
    spark, tmp_path, keep_versions
):
    """overwrite stages before it swaps: a row that raises mid-write
    leaves the live table readable, and a plan that reads the table it
    overwrites sees the old files."""
    from pyspark.errors import SparkRuntimeException

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=keep_versions)
    _pseed(cat, spark)
    bad = _prows(spark, (1, "a", "new")).withColumn(
        "v",
        F.when(F.col("id") == 1, F.raise_error(F.lit("boom"))).otherwise(
            F.col("v")
        ),
    )
    with pytest.raises(SparkRuntimeException, match="boom"):
        cat.overwrite(bad, PT, partition_by=["p"])
    assert _live(cat) == SEED
    assert cat.versions(PT) == []
    cat.overwrite(cat.read(PT).filter("id = 2"), PT, partition_by=["p"])
    assert _live(cat) == {(2, "b", "x")}
    assert len(cat.versions(PT)) == min(keep_versions, 1)


def test_publish_internals_are_called_only_inside_the_catalog():
    """Every write commits through Catalog._publish; no other module
    reaches into the lock, token, snapshot or book-update steps."""
    import ast
    import pathlib

    import mydatalake_spark

    internals = {
        "_publish_lock",
        "_check_expected",
        "_snapshot_or_drop",
        "_snapshot_live",
        "_invalidate",
    }
    root = pathlib.Path(mydatalake_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in internals:
                offenders.append(
                    f"{path.relative_to(root)}:{node.lineno} {node.attr}"
                )
    assert not offenders, offenders
