"""Catalog reads take the schema the last commit recorded in the
table's book: no Spark job infers it from a footer, and the frame has
the schema inference would give. Partition columns are still
discovered from the directory names; a 0-row partitioned write, which
leaves no data file, reads back from the book alone."""

import itertools
import os

import pytest

from mydatalake_spark.catalog import Catalog
from mydatalake_spark.plans.table_sql import run_table_sql

T = "silver.s.t"
_groups = itertools.count()


def _jobs_of(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"committed-schema-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, *rows):
    return spark.createDataFrame(
        list(rows), "id int, p string, v string, n bigint"
    )


SEED = [(1, "a", "x", 10), (2, "b", "y", 20), (3, "b", "z", 30)]


def _seed(cat, spark):
    cat.overwrite(_rows(spark, *SEED), T)


def _pseed(cat, spark):
    cat.overwrite(_rows(spark, *SEED), T, partition_by=["p"])


def _sql(stmt):
    return lambda cat, spark: run_table_sql(cat, stmt.format(t=T))


def _delete(partition_cols):
    def write(cat, spark):
        from mydatalake_spark.operators.dml import delete_where

        delete_where(cat, T, "id = 1", partition_cols=partition_cols)

    return write


def _update(partition_cols):
    def write(cat, spark):
        from mydatalake_spark.operators.dml import update_where

        update_where(cat, T, {"v": "'new'"}, "id = 2",
                     partition_cols=partition_cols)

    return write


def _merge_evolve(cat, spark):
    from pyspark.sql import functions as F

    from mydatalake_spark.operators.merge import merge_upsert

    src = _rows(spark, (2, "b", "w", 21), (4, "c", "q", 40)).withColumn(
        "extra", F.lit(1.5)
    )
    merged = merge_upsert(cat.read(T), src, ["id"], evolve_schema=True)
    cat.overwrite_via_staging(merged, T)


def _recluster(cat, spark):
    from mydatalake_spark.maintenance import optimize_table

    cat.set_declared_cluster_cols(T, ["id"])
    cat.overwrite(_rows(spark, *SEED), T)
    cat.append(_rows(spark, (0, "c", "q", 1), (9, "c", "r", 2)), T)
    optimize_table(cat, T)


def _restore(cat, spark):
    cat.overwrite(_rows(spark, (7, "c", "q", 70)).drop("n"), T)
    cat.restore(T, version=1)


#: write mode → (seed, write)
WRITES = {
    "overwrite": (None, _seed),
    "overwrite_partitioned": (None, _pseed),
    "overwrite_via_staging": (
        _seed,
        lambda cat, spark: cat.overwrite_via_staging(
            cat.read(T).where("id > 1"), T
        ),
    ),
    "append": (
        _pseed,
        lambda cat, spark: cat.append(_rows(spark, (4, "c", "q", 40)), T),
    ),
    "append_txn": (
        _pseed,
        lambda cat, spark: cat.append(
            _rows(spark, (4, "a", "q", 40)), T, txn_id="t1"
        ),
    ),
    "append_txn_create": (
        None,
        lambda cat, spark: cat.append(
            _rows(spark, (4, "a", "q", 40)), T, partition_by=["p"],
            txn_id="t1",
        ),
    ),
    "overwrite_partitions": (
        _pseed,
        lambda cat, spark: cat.overwrite_partitions(
            _rows(spark, (1, "a", "new", 11)), T, "p", ["a"]
        ),
    ),
    "delete_where": (_seed, _delete(None)),
    "delete_where_partitioned": (_pseed, _delete(["p"])),
    "update_where": (_seed, _update(None)),
    "update_where_partitioned": (_pseed, _update(["p"])),
    "merge_upsert_evolve": (_seed, _merge_evolve),
    "add_columns": (_seed, _sql("ALTER TABLE {t} ADD COLUMNS (w INT)")),
    "drop_column": (_seed, _sql("ALTER TABLE {t} DROP COLUMN v")),
    "rename_column": (_seed, _sql("ALTER TABLE {t} RENAME COLUMN v TO u")),
    "optimize": (_pseed, _sql("OPTIMIZE {t}")),
    "recluster": (None, _recluster),
    "restore": (_seed, _restore),
}


@pytest.mark.parametrize("mode", sorted(WRITES))
def test_read_takes_committed_schema_with_no_job(spark, tmp_path, mode):
    """After every write mode, Catalog.read has the schema Spark would
    infer from the files and runs no Spark job."""
    seed, write = WRITES[mode]
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    if seed is not None:
        seed(cat, spark)
    write(cat, spark)
    inferred = spark.read.format("parquet").load(cat.path(T))
    df, jobs = _jobs_of(spark, lambda: cat.read(T))
    assert jobs == []
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())


def test_clone_reads_committed_schema_with_no_job(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    _pseed(cat, spark)
    cat.clone(T, "silver.s.c")
    cat.clone(T, "silver.s.d", shallow=False)
    for name in ("silver.s.c", "silver.s.d"):
        df, jobs = _jobs_of(spark, lambda name=name: cat.read(name))
        assert jobs == []
        assert df.schema == spark.read.parquet(cat.path(name)).schema


def test_zero_row_partitioned_overwrite_reads_back(spark, tmp_path):
    """A 0-row write partitioned by a column leaves no data file; the
    table exists and reads back empty with the written columns."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    empty = _rows(spark).limit(0)
    cat.overwrite(empty, T, partition_by=["p"])
    assert cat.exists(T)
    df = cat.read(T)
    assert sorted(df.dtypes) == sorted(empty.dtypes)
    assert df.count() == 0
    # the first rows into it land in leaf directories, and the
    # partition column is then discovered as before
    cat.append(_rows(spark, *SEED), T, partition_by=["p"])
    assert sorted(cat.read(T).collect()) == sorted(
        spark.read.parquet(cat.path(T)).collect()
    )
    assert cat.read(T).schema == spark.read.parquet(cat.path(T)).schema


def test_read_version_keeps_the_schema_it_was_committed_with(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(cat, spark)
    run_table_sql(cat, f"ALTER TABLE {T} ADD COLUMNS (w INT)")
    run_table_sql(cat, f"ALTER TABLE {T} DROP COLUMN v")
    assert "w" in cat.read(T).columns and "v" not in cat.read(T).columns
    for version, cols in ((1, ["id", "p", "v", "n"]),
                          (2, ["id", "p", "v", "n", "w"])):
        path = os.path.join(cat._version_root(T), f"v{version:08d}")
        df, jobs = _jobs_of(
            spark, lambda v=version: cat.read_version(T, version=v)
        )
        assert jobs == []
        assert df.columns == cols
        assert df.schema == spark.read.parquet(path).schema
        assert sorted(df.collect()) == sorted(
            spark.read.parquet(path).collect()
        )


def test_directory_swapped_behind_the_book_reads_by_inference(
    spark, tmp_path, monkeypatch
):
    """A crash between a schema-changing swap and its book update
    leaves the recorded schema naming the old directory: the read
    infers the new one instead of applying the stale record."""
    for keep_versions in (0, 2):
        cat = Catalog(spark, str(tmp_path / f"k{keep_versions}"),
                      keep_versions=keep_versions)
        _seed(cat, spark)

        def crash(*_a, **_k):
            raise OSError("crash before the book update")

        monkeypatch.setattr(cat, "_update_book", crash)
        with pytest.raises(OSError, match="crash"):
            cat.overwrite(_rows(spark, (5, "e", "f", 50)).drop("v"), T)
        monkeypatch.undo()
        assert cat.read(T).columns == ["id", "p", "n"]
        assert [tuple(r) for r in cat.read(T).collect()] == [(5, "e", 50)]
        cat.overwrite(_rows(spark, (6, "g", "h", 60)), T)
        assert cat.read(T).columns == ["id", "p", "v", "n"]
