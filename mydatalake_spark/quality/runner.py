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

The annotation runs once per check run, and the run reads back
nothing it wrote: the score rollup is observed while the results are
written (one ``Observation`` per checked table on its one-row-per-
record frame: the record count, the run date and each test's failed
count), and the history upsert is an anti-join of the history table
against the broadcast rollup, a local Arrow-backed frame, plus the
rollup rows — no shuffle of the history table.

Scale notes: the per-(record × test) results table is the largest
artifact in the system at 100 TB (|rows| × |tests|); it is written
partitioned by ``run_date`` (and can further partition by
``table_name``) so history accrues append-only per partition instead of
rewriting one monolithic table. The rollup costs |tests| boolean
counts per checked record on the write's own pass, and it has one row
per (test name, table, test type, layer, run date, mandate).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
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
    def annotate_table(
        self, check: TableCheck, observation: Observation | None = None
    ) -> DataFrame:
        """Single-pass annotate + standardization
        (reference lib/checker_handler.py:57-99); ``observation``
        collects the table's rollup counts (:func:`annotate`)."""
        results = annotate(
            check.df,
            specs_from_meta(check.meta),
            check.meta.key_columns,
            run_date=self.run_date,
            as_of=self.as_of,
            missing_sentinels=self.missing_sentinels,
            observation=observation,
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

    def compile_results(
        self,
        checks: list[TableCheck],
        observations: list[Observation] | None = None,
    ) -> DataFrame:
        """unionByName fold over per-table frames
        (reference lib/checker.py:308, lib/checker_handler.py:101-113),
        each table observed by its entry of ``observations``."""
        frames = [
            self.annotate_table(c, o) for c, o in
            zip(checks, observations or [None] * len(checks))
        ]
        if not frames:
            raise ValueError("no tables to check")
        return reduce(lambda a, b: a.unionByName(b), frames)

    def save_results(self, results: DataFrame) -> None:
        """TRUNCATE + overwrite (reference lib/checker_handler.py:116-131),
        partitioned by run_date for append-only history at scale."""
        self.catalog.truncate(self.results_table)
        self.catalog.overwrite(results, self.results_table,
                               partition_by=["run_date"])

    def aggregate_results(
        self,
        checks: list[TableCheck],
        observations: list[Observation] | None,
    ) -> DataFrame:
        """Scores rollup (reference lib/checker_handler.py:133-156),
        the reference's GROUP BY over the results, built from the
        counts each table's observation collected during the results
        write: every test adds its records to ``columns_checked`` and
        its failed count to ``failing_cols`` of its group (tests
        sharing a name, type and mandate share one), and
        ``total_score`` = ``passing_cols / columns_checked`` — the mean
        of a 0/1 ``check_score``. A table with no rows adds no group.
        Returned as a local Arrow-backed frame.

        Without ``observations`` (a Delta catalog) the saved results
        table is grouped instead."""
        import pyarrow as pa

        if observations is None:
            saved = self.catalog.read(self.results_table)
            return self.spark.createDataFrame(saved.groupBy(*AGG_KEYS).agg(
                F.avg("check_score").alias("total_score"),
                F.count(F.lit(1)).alias("columns_checked"),
                F.sum("check_score").cast("bigint").alias("passing_cols"),
                F.sum(1 - F.col("check_score")).cast("bigint")
                .alias("failing_cols"),
            ).toArrow())
        groups: dict[tuple, list[int]] = {}
        for check, observation in zip(checks, observations):
            seen = observation.get
            if not seen["rows"]:
                continue
            for i, spec in enumerate(specs_from_meta(check.meta)):
                key = (
                    spec.get("test_name", spec["test_type"]),
                    check.table_name,
                    spec["test_type"],
                    check.layer,
                    seen["run_date"],
                    spec.get("mandate", ""),
                )
                counts = groups.setdefault(key, [0, 0])
                counts[0] += seen["rows"]
                counts[1] += seen[f"failed_{i}"]
        rows = [
            (*key, (n - failed) / n, n, n - failed, failed)
            for key, (n, failed) in groups.items()
        ]
        # the reference GROUP BY's column names and types
        schema = pa.schema(
            [(k, pa.date32() if k == "run_date" else pa.string())
             for k in AGG_KEYS]
            + [("total_score", pa.float64())]
            + [(c, pa.int64())
               for c in ("columns_checked", "passing_cols", "failing_cols")]
        )
        return self.spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        ))

    def upsert_history(self, aggregated: DataFrame) -> None:
        """6-key equi MERGE into history
        (reference lib/checker_handler.py:158-194): first run writes,
        later runs upsert latest scores per key. The rollup's keys are
        unique, so the MERGE's ``UPDATE SET *`` / ``INSERT *`` is the
        history rows whose key the rollup lacks (an anti-join against
        the broadcast rollup, null-safe on every key) plus the rollup."""
        if not self.catalog.exists(self.history_table):
            self.catalog.overwrite(aggregated, self.history_table)
            return
        target = self.catalog.read(self.history_table)
        rollup = aggregated.select(*target.columns)
        same_key = reduce(
            lambda a, b: a & b,
            [target[k].eqNullSafe(rollup[k]) for k in AGG_KEYS],
        )
        kept = target.join(F.broadcast(rollup), same_key, "left_anti")
        # a few rows per run: one task and one file, where the union
        # alone would write a file per history and per rollup partition
        self.catalog.overwrite_via_staging(
            kept.unionByName(rollup).coalesce(1), self.history_table
        )

    # -- entry point ----------------------------------------------------
    def execute(self, checks: list[TableCheck]) -> DataFrame:
        """Full pipeline (reference lib/checker_handler.py:209-221);
        returns the aggregated frame."""
        from ..logging_utils import log_duration

        # Delta's writer runs the results frame inside its own nested
        # command, and Spark completes an Observation only from the
        # top-level query's metrics: one there would be waited on
        # forever, so a Delta run groups the saved table instead
        observations = (
            None if self.catalog.fmt == "delta"
            else [Observation() for _ in checks]
        )
        with log_duration("checks", tables=[c.table_name for c in checks]):
            results = self.compile_results(checks, observations)
            self.save_results(results)
        aggregated = self.aggregate_results(checks, observations)
        self.upsert_history(aggregated)
        return aggregated
