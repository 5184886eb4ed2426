"""Data-quality run orchestration: annotate → compile → persist →
aggregate → history upsert.

Reference parity: ``CheckerHandler`` (reference lib/checker_handler.py:42-221):
per-table ``Checker(...).Annotate()`` (reference lib/checker_handler.py:68-99),
column standardization with layer/table_name
(reference lib/checker_handler.py:57-66), ``unionByName`` compilation
(reference lib/checker_handler.py:101-113), TRUNCATE + overwrite of the
results table (reference lib/checker_handler.py:116-131), SQL GROUP BY
aggregation (reference lib/checker_handler.py:133-156), and the 6-key
MERGE into the aggregated-history table
(reference lib/checker_handler.py:158-194).

The annotation runs once per check run: the score rollup groups the
saved results table, not the results lineage, which would re-scan
every checked table and redo every ``duplicated`` window. Reading
back the few narrow columns the GROUP BY needs costs less than
recomputing them, and the rollup is collected into a local frame.

Scale notes: the per-(record × test) results table is the largest
artifact in the system at 100 TB (|rows| × |tests|); it is written
partitioned by ``run_date`` (and can further partition by
``table_name``) so history accrues append-only per partition instead of
rewriting one monolithic table. The aggregation is a partial-agg-
friendly groupBy (map-side combine) — tiny output, safe shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators.merge import merge_upsert
from ..schema import TableMeta
from .checks import annotate, specs_from_meta

AGG_KEYS = ["test_name", "table_name", "test_type", "layer", "run_date", "mandate"]


@dataclass
class TableCheck:
    """One table's check instructions (reference tests.ipynb cell 1 shape)."""

    df: DataFrame
    meta: TableMeta
    layer: str = "silver"

    @property
    def table_name(self) -> str:
        return self.meta.table


@dataclass
class CheckRunner:
    spark: SparkSession
    catalog: Catalog
    results_table: str = "silver.checks.column_checks"
    history_table: str = "silver.checks.aggregated_checks"
    run_date: str | None = None
    as_of: str | None = None
    missing_sentinels: list[str] | None = None
    extra: dict[str, Any] = field(default_factory=dict)

    # -- stages --------------------------------------------------------
    def annotate_table(self, check: TableCheck) -> DataFrame:
        """Single-pass annotate + standardization
        (reference lib/checker_handler.py:57-99)."""
        results = annotate(
            check.df,
            specs_from_meta(check.meta),
            check.meta.key_columns,
            run_date=self.run_date,
            as_of=self.as_of,
            missing_sentinels=self.missing_sentinels,
        )
        return results.select(
            F.lit(check.layer).alias("layer"),
            F.lit(check.table_name).alias("table_name"),
            "df_key",
            "test_type",
            "test_name",
            "column",
            "mandate",
            "run_date",
            "check_result",
            "check_score",
        )

    def compile_results(self, checks: list[TableCheck]) -> DataFrame:
        """unionByName fold over per-table frames
        (reference lib/checker.py:308, lib/checker_handler.py:101-113)."""
        frames = [self.annotate_table(c) for c in checks]
        if not frames:
            raise ValueError("no tables to check")
        return reduce(lambda a, b: a.unionByName(b), frames)

    def save_results(self, results: DataFrame) -> None:
        """TRUNCATE + overwrite (reference lib/checker_handler.py:116-131),
        partitioned by run_date for append-only history at scale."""
        self.catalog.truncate(self.results_table)
        self.catalog.overwrite(results, self.results_table,
                               partition_by=["run_date"])

    def aggregate_results(self, results: DataFrame) -> DataFrame:
        """Scores rollup (reference lib/checker_handler.py:133-156);
        identical output column names. The rollup is collected into a
        local frame, so it stays valid after a later run truncates the
        results table it was grouped from."""
        rollup = results.groupBy(*AGG_KEYS).agg(
            F.avg("check_score").alias("total_score"),
            F.count(F.lit(1)).alias("columns_checked"),
            F.sum(F.when(F.col("check_result") == "passed", 1).otherwise(0))
            .alias("passing_cols"),
            F.sum(F.when(F.col("check_result") == "passed", 0).otherwise(1))
            .alias("failing_cols"),
        )
        return self.spark.createDataFrame(rollup.collect(), rollup.schema)

    def upsert_history(self, aggregated: DataFrame) -> None:
        """6-key equi MERGE into history
        (reference lib/checker_handler.py:158-194): first run writes,
        later runs upsert latest scores per key."""
        if not self.catalog.exists(self.history_table):
            self.catalog.overwrite(aggregated, self.history_table)
            return
        target = self.catalog.read(self.history_table)
        merged = merge_upsert(
            target, aggregated.select(*target.columns), AGG_KEYS
        )
        self.catalog.overwrite_via_staging(merged, self.history_table)

    # -- entry point ----------------------------------------------------
    def execute(self, checks: list[TableCheck]) -> DataFrame:
        """Full pipeline (reference lib/checker_handler.py:209-221);
        returns the aggregated frame."""
        from ..logging_utils import log_duration

        with log_duration("checks", tables=[c.table_name for c in checks]):
            results = self.compile_results(checks)
            self.save_results(results)
        # Group the saved rows, not the lineage: re-running the lineage
        # would annotate every checked table a second time. Parquet is
        # read with the lineage's schema: no footer-inference job, and
        # a run that saved no rows (no data file) reads as empty.
        reader = self.spark.read.format(self.catalog.fmt)
        if self.catalog.fmt != "delta":  # Delta keeps its schema in its log
            reader = reader.schema(results.schema)
        aggregated = self.aggregate_results(
            reader.load(self.catalog.path(self.results_table))
        )
        self.upsert_history(aggregated)
        return aggregated
