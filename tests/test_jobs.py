"""End-to-end medallion orchestration: bronze json job → silver
catalog-transform job, mirroring the reference's job_metadata.yml +
job.ipynb flow (FIXTURES.md A5)."""

import json
import os

import pytest

from mydatalake_spark.catalog import Catalog
from mydatalake_spark.jobs import JobNotFound, JobRunner, find_job

BRONZE_JOBS = """
jobs:
  - name: 'bronze_full'
    type: 'full'
    tables:
      - table_name: 'assets'
        input_format: 'json'
        catalog: 'bronze'
        schema: 'brapi'
  - name: 'bronze_cdc'
    type: 'cdc'
    tables:
      - table_name: 'assets'
        input_format: 'json'
        catalog: 'bronze'
        schema: 'brapi'
  - name: 'bronze_cdc_bloom'
    type: 'cdc'
    tables:
      - table_name: 'assets'
        input_format: 'json'
        catalog: 'bronze'
        schema: 'brapi'
        merge_strategy: 'bloom'
  - name: 'bronze_stream'
    type: 'streaming'
    tables:
      - table_name: 'assets'
        input_format: 'json'
        catalog: 'bronze'
        schema: 'brapi'
"""

ASSETS_YML = """
table_name: 'assets'
schema:
  - name: 'stocks'
    type: 'string'
    key: true
  - name: 'close'
    type: 'string'
  - name: 'loaded_at'
    type: 'string'
    date_predicate: true
"""

# reference bronze/assets/assets.sql shape: typed projection + QUALIFY dedup
ASSETS_SQL = """
SELECT stocks,
       CAST(close AS double) AS close,
       CAST(loaded_at AS timestamp) AS loaded_at
FROM view_assets
QUALIFY ROW_NUMBER() OVER (PARTITION BY stocks ORDER BY loaded_at DESC) = 1
"""

SILVER_JOBS = """
jobs:
  - name: 'silver_full'
    type: 'full'
    tables:
      - table_name: 'prices'
        input_format: 'delta'
        catalog: 'silver'
        schema: 'brapi'
"""

PRICES_YML = """
table_name: 'prices'
schema:
  - name: 'stocks'
    type: 'string'
    key: true
  - name: 'close'
    type: 'double'
"""

# silver transform reads the bronze table by its three-part name
# (reference silver/prices/prices.sql:12)
PRICES_SQL = """
SELECT stocks, close FROM bronze.brapi.assets WHERE close IS NOT NULL
"""


@pytest.fixture()
def workspace(tmp_path):
    root = tmp_path / "meta"
    (root / "bronze" / "assets").mkdir(parents=True)
    (root / "silver" / "prices").mkdir(parents=True)
    (root / "bronze" / "job_metadata.yml").write_text(BRONZE_JOBS)
    (root / "bronze" / "assets" / "assets.yml").write_text(ASSETS_YML)
    (root / "bronze" / "assets" / "assets.sql").write_text(ASSETS_SQL)
    (root / "silver" / "job_metadata.yml").write_text(SILVER_JOBS)
    (root / "silver" / "prices" / "prices.yml").write_text(PRICES_YML)
    (root / "silver" / "prices" / "prices.sql").write_text(PRICES_SQL)

    raw = tmp_path / "raw"
    raw.mkdir()
    rows = [
        {"stocks": "AAA", "close": "10.5", "loaded_at": "2026-08-01T00:00:00"},
        {"stocks": "AAA", "close": "11.0", "loaded_at": "2026-08-02T00:00:00"},
        {"stocks": "BBB", "close": "oops", "loaded_at": "2026-08-01T00:00:00"},
    ]
    with open(raw / "batch.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return root, raw


def test_find_job(workspace):
    root, _ = workspace
    job = find_job(str(root), "full", "bronze_full")
    assert job["tables"][0]["table_name"] == "assets"
    with pytest.raises(JobNotFound):
        find_job(str(root), "cdc", "bronze_full")


def test_medallion_end_to_end(spark, workspace, tmp_path):
    root, raw = workspace
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = JobRunner(
        spark, cat, str(root), input_paths={"assets": str(raw)}
    )

    written = runner.run("full", "bronze_full")
    assert written == ["bronze.brapi.assets"]
    bronze = {r.stocks: r for r in cat.read("bronze.brapi.assets").collect()}
    # QUALIFY dedup kept the latest AAA row; 'oops' cast to null (ANSI off)
    assert bronze["AAA"].close == 11.0
    assert bronze["BBB"].close is None

    written = runner.run("full", "silver_full")
    assert written == ["silver.brapi.prices"]
    silver = cat.read("silver.brapi.prices").collect()
    # silver filters the null-close row via the catalog-table transform
    assert [(r.stocks, r.close) for r in silver] == [("AAA", 11.0)]


def test_cdc_job_upserts(spark, workspace, tmp_path):
    root, raw = workspace
    cat = Catalog(spark, str(tmp_path / "wh2"))
    runner = JobRunner(spark, cat, str(root), input_paths={"assets": str(raw)})
    runner.run("full", "bronze_full")

    with open(raw / "batch2.json", "w") as fh:
        fh.write(json.dumps({"stocks": "AAA", "close": "12.0",
                             "loaded_at": "2026-08-03T00:00:00"}) + "\n")
        fh.write(json.dumps({"stocks": "CCC", "close": "1.0",
                             "loaded_at": "2026-08-01T00:00:00"}) + "\n")
    runner.run("cdc", "bronze_cdc")
    bronze = {r.stocks: r.close for r in cat.read("bronze.brapi.assets").collect()}
    assert bronze == {"AAA": 12.0, "BBB": None, "CCC": 1.0}


def test_cdc_job_bloom_strategy_matches_join(spark, workspace, tmp_path):
    """merge_strategy: 'bloom' in job metadata routes the upsert
    through merge_upsert_bloomed — same upserted table as the default
    join strategy (the bloom is an execution strategy, not a
    semantics change)."""
    root, raw = workspace
    cat = Catalog(spark, str(tmp_path / "wh3"))
    runner = JobRunner(spark, cat, str(root), input_paths={"assets": str(raw)})
    runner.run("full", "bronze_full")

    with open(raw / "batch2.json", "w") as fh:
        fh.write(json.dumps({"stocks": "AAA", "close": "12.0",
                             "loaded_at": "2026-08-03T00:00:00"}) + "\n")
        fh.write(json.dumps({"stocks": "CCC", "close": "1.0",
                             "loaded_at": "2026-08-01T00:00:00"}) + "\n")
    runner.run("cdc", "bronze_cdc_bloom")
    bronze = {r.stocks: r.close for r in cat.read("bronze.brapi.assets").collect()}
    assert bronze == {"AAA": 12.0, "BBB": None, "CCC": 1.0}


def test_ingestor_cdc_rejects_unknown_merge_strategy(spark, workspace, tmp_path):
    from mydatalake_spark.ingest import IngestorCDC

    root, raw = workspace
    cat = Catalog(spark, str(tmp_path / "wh4"))
    with pytest.raises(ValueError, match="merge_strategy"):
        IngestorCDC(
            spark=spark, catalog=cat,
            metadata_root=str(root / "bronze"), table="assets",
            input_format="json", input_path=str(raw),
            merge_strategy="hash",
        )


PARTED_YML = """
table_name: 'trades'
catalog: 'bronze'
schema: 'brapi'
partition_by: ['trade_date']
fields:
  - name: 'symbol'
    type: 'string'
    key: true
  - name: 'px'
    type: 'double'
  - name: 'trade_date'
    type: 'string'
    date_predicate: true
"""


def test_yaml_partition_by_drives_partitioned_sink(spark, tmp_path):
    from mydatalake_spark.ingest import Ingestor

    meta = tmp_path / "meta" / "trades"
    os.makedirs(meta)
    (meta / "trades.yml").write_text(PARTED_YML)
    raw = tmp_path / "raw"
    os.makedirs(raw)
    with open(raw / "b.json", "w") as fh:
        for sym, px, d in [("AAA", 1.0, "2026-08-01"),
                           ("BBB", 2.0, "2026-08-01"),
                           ("CCC", 3.0, "2026-08-02")]:
            fh.write(json.dumps(
                {"symbol": sym, "px": px, "trade_date": d}) + "\n")

    cat = Catalog(spark, str(tmp_path / "wh"))
    ing = Ingestor(spark, cat, str(tmp_path / "meta"), "trades",
                   input_format="json", input_path=str(raw))
    assert ing.partition_by == ["trade_date"]
    ing.run()

    table_dir = cat.path("bronze.brapi.trades")
    parts = sorted(
        d for d in os.listdir(table_dir) if d.startswith("trade_date=")
    )
    assert parts == ["trade_date=2026-08-01", "trade_date=2026-08-02"]

    # partition pruning reaches the scan
    out = cat.read("bronze.brapi.trades").filter(
        "trade_date = '2026-08-02'"
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert any("trade_date" in l for l in plan.splitlines()
               if "PartitionFilters" in l)
    assert [r.symbol for r in out.collect()] == ["CCC"]


QUALITY_JOBS = """
jobs:
  - name: 'silver_quality'
    type: 'quality'
    tables:
      - table_name: 'holdings'
        catalog: 'silver'
        schema: 'brapi'
"""

HOLDINGS_YML = """
table_name: 'holdings'
catalog: 'silver'
schema: 'brapi'
fields:
  - name: 'symbol'
    type: 'string'
    key: true
    mandate: 'global_required'
    tests:
      - test_type: 'missing'
      - test_type: 'duplicated'
  - name: 'qty'
    type: 'double'
    tests:
      - test_type: 'outside_of_rules'
        kwargs:
          expression: 'qty < 0'
"""


def test_quality_job_runs_declared_checks(spark, tmp_path):
    root = tmp_path / "meta" / "silver"
    (root / "holdings").mkdir(parents=True)
    (root / "job_metadata.yml").write_text(QUALITY_JOBS)
    (root / "holdings" / "holdings.yml").write_text(HOLDINGS_YML)

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("AAA", 5.0), ("BBB", -2.0), (None, 1.0)],
        "symbol string, qty double",
    )
    cat.overwrite(df, "silver.brapi.holdings")

    runner = JobRunner(spark, cat, str(tmp_path / "meta"))
    written = runner.run("quality", "silver_quality")
    assert written == [
        "silver.checks.column_checks", "silver.checks.aggregated_checks"
    ]

    results = cat.read("silver.checks.column_checks")
    # 3 rows × 3 tests = 9 long-format check rows
    assert results.count() == 9
    failed = {
        (r.test_type, r.column)
        for r in results.filter("check_result = 'failed'").collect()
    }
    # null symbol -> missing fails; qty=-2 -> rule fails; no duplicates
    assert ("missing", "symbol") in failed
    assert ("outside_of_rules", "qty") in failed
    assert not any(t == "duplicated" for t, _ in failed)

    history = cat.read("silver.checks.aggregated_checks")
    assert history.filter("table_name = 'holdings'").count() == 3


WAP_JOBS = """
jobs:
  - name: 'bronze_wap'
    type: 'wap'
    tables:
      - table_name: 'ticks'
        input_format: 'json'
        catalog: 'bronze'
        schema: 'brapi'
        min_clean_fraction: 0.5
"""

TICKS_YML = """
table_name: 'ticks'
schema:
  - name: 'sym'
    type: 'string'
    key: true
    tests:
      - test_type: 'missing'
        test_name: 'sym_present'
  - name: 'px'
    type: 'string'
    tests:
      - test_type: 'outside_of_rules'
        test_name: 'px_positive'
        kwargs:
          expression: 'CAST(px AS DOUBLE) > 0'
"""

TICKS_SQL = """
SELECT sym, px FROM view_ticks
"""


def test_wap_job_gates_publish(spark, tmp_path):
    """type: wap jobs ingest through the audit gate: clean rows reach
    the table, failing rows land in quarantine with reasons, driven
    purely by the table's YAML-declared checks."""
    import json as _json

    root = tmp_path / "meta"
    (root / "bronze" / "ticks").mkdir(parents=True)
    (root / "bronze" / "job_metadata.yml").write_text(WAP_JOBS)
    (root / "bronze" / "ticks" / "ticks.yml").write_text(TICKS_YML)
    (root / "bronze" / "ticks" / "ticks.sql").write_text(TICKS_SQL)
    raw = tmp_path / "raw_ticks"
    raw.mkdir()
    with open(raw / "b.json", "w") as fh:
        for r in [
            {"sym": "AAA", "px": "10.0"},
            {"sym": "BBB", "px": "-1.0"},     # fails px_positive
            {"sym": "CCC", "px": "3.0"},
        ]:
            fh.write(_json.dumps(r) + "\n")

    cat = Catalog(spark, str(tmp_path / "wh_wap"))
    runner = JobRunner(spark, cat, str(root), input_paths={"ticks": str(raw)})
    written = runner.run("wap", "bronze_wap")
    assert written == ["bronze.brapi.ticks"]

    published = {r.sym for r in cat.read("bronze.brapi.ticks").collect()}
    assert published == {"AAA", "CCC"}
    quarantined = {
        r.sym: list(r.failed_tests)
        for r in cat.read("bronze.brapi.ticks_quarantine").collect()
    }
    assert quarantined == {"BBB": ["px_positive"]}


def test_streaming_job_drains_and_merges(spark, workspace, tmp_path):
    """type: streaming — the raw dir consumed as a checkpointed
    stream; rerunning drains only NEW files, and each micro-batch is
    CDC-merged (replay-idempotent), matching the batch CDC result."""
    root, raw = workspace
    cat = Catalog(spark, str(tmp_path / "wh_stream"))
    runner = JobRunner(spark, cat, str(root), input_paths={"assets": str(raw)})

    written = runner.run("streaming", "bronze_stream")
    assert written == ["bronze.brapi.assets"]
    bronze = {r.stocks: r.close for r in cat.read("bronze.brapi.assets").collect()}
    # QUALIFY dedup inside the batch kept the latest AAA row
    assert bronze == {"AAA": 11.0, "BBB": None}

    # second file → only the delta is consumed on rerun (checkpoint)
    with open(raw / "batch2.json", "w") as fh:
        fh.write(json.dumps({"stocks": "AAA", "close": "12.0",
                             "loaded_at": "2026-08-03T00:00:00"}) + "\n")
        fh.write(json.dumps({"stocks": "CCC", "close": "1.0",
                             "loaded_at": "2026-08-01T00:00:00"}) + "\n")
    runner.run("streaming", "bronze_stream")
    bronze = {r.stocks: r.close for r in cat.read("bronze.brapi.assets").collect()}
    assert bronze == {"AAA": 12.0, "BBB": None, "CCC": 1.0}

    # idle rerun: nothing new, table unchanged
    runner.run("streaming", "bronze_stream")
    again = {r.stocks: r.close for r in cat.read("bronze.brapi.assets").collect()}
    assert again == bronze


RECONCILE_JOBS = """
jobs:
  - name: 'audit_assets'
    type: 'reconcile'
    tables:
      - source_table: 'bronze.brapi.assets'
        target_table: 'bronze.brapi.assets_v2'
        keys: ['stocks']
        include_values: true
"""


def test_reconcile_job_writes_changeset(spark, workspace, tmp_path):
    from pyspark.sql import functions as F

    from mydatalake_spark.operators.diff import apply_snapshot_diff

    root, raw = workspace
    (root / "audit").mkdir()
    (root / "audit" / "job_metadata.yml").write_text(RECONCILE_JOBS)
    cat = Catalog(spark, str(tmp_path / "wh_rec"))
    runner = JobRunner(spark, cat, str(root), input_paths={"assets": str(raw)})
    runner.run("full", "bronze_full")

    # mutated copy: AAA repriced, BBB dropped, CCC inserted
    base = cat.read("bronze.brapi.assets")
    v2 = (
        base.where(F.col("stocks") != "BBB")
        .withColumn(
            "close",
            F.when(F.col("stocks") == "AAA", F.lit(99.0)).otherwise(
                F.col("close")
            ),
        )
        .unionByName(
            base.where(F.col("stocks") == "AAA").withColumn(
                "stocks", F.lit("CCC")
            )
        )
    )
    cat.overwrite(v2, "bronze.brapi.assets_v2")

    written = runner.run("reconcile", "audit_assets")
    assert written == ["bronze.brapi.assets_v2_diff"]

    diff = cat.read("bronze.brapi.assets_v2_diff")
    got = {r.stocks: r.op for r in diff.collect()}
    assert got == {"AAA": "update", "BBB": "delete", "CCC": "insert"}
    # the persisted changeset is replayable
    rebuilt = apply_snapshot_diff(
        cat.read("bronze.brapi.assets"), diff, ["stocks"]
    )
    expect = {(r.stocks, r.close) for r in cat.read(
        "bronze.brapi.assets_v2").collect()}
    assert {(r.stocks, r.close) for r in rebuilt.collect()} == expect


PARTED_CDC_YML = """
table_name: 'ticks'
catalog: 'bronze'
schema: 'brapi'
partition_by: ['trade_date']
fields:
  - name: 'symbol'
    type: 'string'
    key: true
  - name: 'trade_date'
    type: 'string'
    key: true
  - name: 'ts'
    type: 'long'
    date_predicate: true
  - name: 'px'
    type: 'double'
"""


def test_cdc_partitioned_bloom_strategy_from_metadata(spark, tmp_path):
    """merge_strategy: 'partitioned_bloom' declared per table routes
    the CDC upsert through merge_upsert_partitioned(bloom=True): only
    the changeset's partitions are rewritten (untouched partition
    files byte-identical — the join/bloom strategies rewrite the
    whole table) and the merged values match the plain join strategy.
    VERDICT r7 ask #4's composed path, reachable from metadata alone."""
    import hashlib

    from mydatalake_spark.ingest import IngestorCDC

    meta = tmp_path / "meta" / "ticks"
    os.makedirs(meta)
    (meta / "ticks.yml").write_text(PARTED_CDC_YML)
    raw = tmp_path / "raw"
    os.makedirs(raw)
    with open(raw / "b1.json", "w") as fh:
        for sym, d, ts, px in [
            ("AAA", "2026-08-01", 1, 1.0), ("BBB", "2026-08-01", 1, 2.0),
            ("AAA", "2026-08-02", 1, 3.0), ("BBB", "2026-08-02", 1, 4.0),
        ]:
            fh.write(json.dumps(
                {"symbol": sym, "trade_date": d, "ts": ts, "px": px}) + "\n")

    cat = Catalog(spark, str(tmp_path / "wh"))

    def ing(path):
        return IngestorCDC(
            spark=spark, catalog=cat, metadata_root=str(tmp_path / "meta"),
            table="ticks", input_format="json", input_path=str(path),
            merge_strategy="partitioned_bloom",
        )

    ing(raw / "b1.json").run()
    table_dir = cat.path("bronze.brapi.ticks")
    d1 = os.path.join(table_dir, "trade_date=2026-08-01")

    def digest(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                with open(os.path.join(dirpath, f), "rb") as fh:
                    out[f] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = digest(d1)
    with open(raw / "b2.json", "w") as fh:
        for sym, d, ts, px in [
            ("AAA", "2026-08-02", 2, 30.0),     # fresher: wins
            ("BBB", "2026-08-02", 0, -1.0),     # stale: loses
            ("NEW", "2026-08-02", 1, 9.0),      # insert
        ]:
            fh.write(json.dumps(
                {"symbol": sym, "trade_date": d, "ts": ts, "px": px}) + "\n")
    ing(raw / "b2.json").run()

    # partition-dir values type-infer to DATE on read-back; normalize
    got = {(r.symbol, str(r.trade_date)): r.px
           for r in cat.read("bronze.brapi.ticks").collect()}
    assert got == {
        ("AAA", "2026-08-01"): 1.0, ("BBB", "2026-08-01"): 2.0,
        ("AAA", "2026-08-02"): 30.0, ("BBB", "2026-08-02"): 4.0,
        ("NEW", "2026-08-02"): 9.0,
    }
    assert digest(d1) == before          # untouched partition untouched


@pytest.mark.parametrize("strategy", ["join", "partitioned"])
def test_cdc_first_write_dedups_latest_wins(spark, tmp_path, strategy):
    """A CDC table's first write is deduped latest-wins on the keys like
    every later merge, so a key duplicated in the first changeset is
    stored once (and re-merging the same changeset keeps it once)."""
    from mydatalake_spark.ingest import IngestorCDC

    meta = tmp_path / "meta" / "ticks"
    os.makedirs(meta)
    (meta / "ticks.yml").write_text(PARTED_CDC_YML)
    raw = tmp_path / "raw"
    os.makedirs(raw)
    with open(raw / "b1.json", "w") as fh:
        for ts, px in [(1, 1.0), (2, 2.0)]:
            fh.write(json.dumps({"symbol": "A", "trade_date": "d1",
                                 "ts": ts, "px": px}) + "\n")
    cat = Catalog(spark, str(tmp_path / "wh"))
    for _ in range(2):
        IngestorCDC(
            spark=spark, catalog=cat, metadata_root=str(tmp_path / "meta"),
            table="ticks", input_format="json", input_path=str(raw),
            merge_strategy=strategy,
        ).run()
        got = [(r.symbol, r.trade_date, r.ts, r.px)
               for r in cat.read("bronze.brapi.ticks").collect()]
        assert got == [("A", "d1", 2, 2.0)]


def test_cdc_partitioned_strategy_validation(spark, tmp_path):
    """partitioned strategies fail fast at construction when the table
    declares no (or multi) partition_by, or the partition column is
    not a merge key."""
    from mydatalake_spark.ingest import IngestorCDC

    meta = tmp_path / "meta" / "trades"
    os.makedirs(meta)
    (meta / "trades.yml").write_text(PARTED_YML)   # key=symbol only
    with pytest.raises(ValueError, match="merge key"):
        IngestorCDC(
            spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")),
            metadata_root=str(tmp_path / "meta"), table="trades",
            input_format="json", input_path="/dev/null",
            merge_strategy="partitioned",
        )

    meta2 = tmp_path / "meta2" / "ticks"
    os.makedirs(meta2)
    (meta2 / "ticks.yml").write_text(
        PARTED_CDC_YML.replace("partition_by: ['trade_date']\n", "")
    )
    with pytest.raises(ValueError, match="partition_by"):
        IngestorCDC(
            spark=spark, catalog=Catalog(spark, str(tmp_path / "wh2")),
            metadata_root=str(tmp_path / "meta2"), table="ticks",
            input_format="json", input_path="/dev/null",
            merge_strategy="partitioned_bloom",
        )
