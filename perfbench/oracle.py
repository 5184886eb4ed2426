"""DuckDB oracles for the benchmark's output checks.

Query ops are checked against their ``oracle_sql()`` twins with the
order-insensitive ``value_hash`` of ``scripts/compare_oracle.py``.
``cdc_medallion`` is checked against a DuckDB replay of the same
seeded changesets and deletes: the final silver table row by row, the
gold summary by ``value_hash`` and each batch's data-quality counts.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import duckdb

from datagen import DELETE_MODULUS, GOLD_SQL, SILVER, CdcInputs

sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
from compare_oracle import value_hash  # noqa: E402


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    rows: int
    hash: str


def fingerprint(columns, rows) -> Expected:
    return Expected(tuple(sorted(columns)), len(rows), value_hash(list(columns), rows))


def same_rows(a, b, key: str) -> bool:
    """Whether two pandas frames hold the same rows, compared value by
    value after sorting on the unique ``key``."""
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    try:
        pd.testing.assert_frame_equal(
            a[cols].sort_values(key, ignore_index=True),
            b[cols].sort_values(key, ignore_index=True),
            check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def _connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def query_twins(data_dir: str, tables: tuple[str, ...], sqls: dict[str, str],
                threads: int, temp_dir: str) -> dict[str, Expected]:
    """Run each DuckDB twin over the generated ``tables``."""
    con = _connect(threads, temp_dir)
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            cur = con.execute(sql)
            out[name] = fingerprint([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# (test_type, column) → failing-row predicate over the silver state,
# matching the declared tests in datagen.ORDERS_YML.
_DQ_FAILED = {
    ("duplicated", "o_orderkey"):
        "ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY "
        "CAST(o_orderkey AS VARCHAR)) > 1",
    ("missing", "o_custkey"):
        "o_custkey IS NULL OR CAST(o_custkey AS VARCHAR) IN ('', '0.0')",
    ("not_in_list", "o_orderstatus"):
        "LOWER(TRIM(o_orderstatus)) NOT IN ('f', 'o', 'p')",
    ("outside_of_rules", "o_totalprice"):
        "o_totalprice IS NULL OR NOT (o_totalprice >= 0)",
}


@dataclass
class CdcExpected:
    silver: "pandas.DataFrame"
    gold: Expected
    # run_date → {test_type: (passing, failing)}
    dq: dict[str, dict[str, tuple[int, int]]]


def cdc_replay(inputs: CdcInputs, threads: int, temp_dir: str) -> CdcExpected:
    """Replay the seed load and every batch: latest-wins upsert of the
    changeset, the DQ counts over the merged state, then the delete."""
    con = _connect(threads, temp_dir)
    try:
        con.execute(
            "CREATE TABLE silver AS SELECT * FROM "
            f"read_parquet('{inputs.seed_path}/*.parquet')"
        )
        dq: dict[str, dict[str, tuple[int, int]]] = {}
        for b in inputs.batches:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE cs AS SELECT * FROM "
                f"read_parquet('{b.path}/*.parquet')"
            )
            con.execute(
                "DELETE FROM silver WHERE o_orderkey IN "
                "(SELECT o_orderkey FROM cs)"
            )
            con.execute("INSERT INTO silver SELECT * FROM cs")
            counts = {}
            for (test_type, _col), pred in _DQ_FAILED.items():
                failing, total = con.execute(
                    f"SELECT COALESCE(SUM(CASE WHEN f THEN 1 ELSE 0 END), 0), "
                    f"COUNT(*) FROM (SELECT ({pred}) AS f FROM silver)"
                ).fetchone()
                counts[test_type] = (int(total - failing), int(failing))
            dq[b.run_date] = counts
            con.execute(
                f"DELETE FROM silver WHERE o_orderkey % {DELETE_MODULUS} = {b.delete_residue}"
            )
        silver = con.execute("SELECT * FROM silver").df()
        cur = con.execute(GOLD_SQL.replace(SILVER, "silver"))
        gold = fingerprint([d[0] for d in cur.description], cur.fetchall())
        return CdcExpected(silver=silver, gold=gold, dq=dq)
    finally:
        con.close()
