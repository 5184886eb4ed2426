"""File-move append (catalog.py:Catalog.append): Delta mode("append")
parity — existing bytes never read or rewritten, strict schema,
constraint-guarded, versioned, partition-aware."""

import os

import pytest
from pyspark.errors import SparkRuntimeException

from mydatalake_spark.catalog import Catalog, _leaf_partition_files

TBL = "silver.sales.orders"


def _file_inodes(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def _seed(spark, cat, partitioned=False, keep_versions=0):
    df = spark.createDataFrame(
        [(1, "EU", 10.0), (2, "US", 20.0)],
        "id int, region string, amount double",
    )
    cat.overwrite(df, TBL, partition_by=["region"] if partitioned else None)
    return df


def test_append_never_touches_existing_files(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    before = _file_inodes(cat.path(TBL))
    n = cat.append(
        spark.createDataFrame(
            [(3, "AP", 30.0)], "id int, region string, amount double"
        ),
        TBL,
    )
    assert n == 1
    after = _file_inodes(cat.path(TBL))
    for rel, ino in before.items():
        assert after[rel] == ino  # old files byte-identical in place
    assert len(after) > len(before)
    assert sorted(r.id for r in cat.read(TBL).collect()) == [1, 2, 3]


def test_append_partitioned_new_and_existing_leaf(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, partitioned=True)
    root = cat.path(TBL)
    before = _leaf_partition_files(root, ["region"])
    # partition layout auto-detected: no partition_by passed
    n = cat.append(
        spark.createDataFrame(
            [(3, "EU", 30.0), (4, "AP", 40.0)],
            "id int, region string, amount double",
        ),
        TBL,
    )
    assert n == 2
    after = _leaf_partition_files(root, ["region"])
    assert ("AP",) in after                      # new leaf created
    assert after[("US",)] == before[("US",)]     # untouched leaf intact
    assert before[("EU",)] < after[("EU",)]      # files ADDED beside old
    assert sorted(r.id for r in cat.read(TBL).collect()) == [1, 2, 3, 4]


def test_append_schema_strictness(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    with pytest.raises(ValueError, match="column set mismatch"):
        cat.append(
            spark.createDataFrame([(9, "EU")], "id int, region string"), TBL
        )
    with pytest.raises(ValueError, match="type drift"):
        cat.append(
            spark.createDataFrame(
                [(9, "EU", "oops")], "id int, region string, amount string"
            ),
            TBL,
        )
    # column ORDER may differ; names+types must match
    n = cat.append(
        spark.createDataFrame(
            [(30.0, "AP", 3)], "amount double, region string, id int"
        ),
        TBL,
    )
    assert n == 1


def test_append_versions_and_cdf_shows_pure_inserts(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    _seed(spark, cat)
    cat.append(
        spark.createDataFrame(
            [(3, "AP", 30.0)], "id int, region string, amount double"
        ),
        TBL,
    )
    vs = cat.versions(TBL)
    assert cat.read_version(TBL, version=vs[-1]).count() == 2
    cat.snapshot(TBL)
    feed = cat.table_changes(
        TBL, ["id"],
        from_version=int(vs[-1][1:]), to_version=int(cat.versions(TBL)[-1][1:]),
    )
    assert {(r.id, r._change_type) for r in feed.collect()} == {(3, "insert")}


def test_append_enforces_constraints(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat)
    cat.add_constraint(TBL, "amount_pos", "amount > 0")
    with pytest.raises(SparkRuntimeException, match="amount_pos"):
        cat.append(
            spark.createDataFrame(
                [(9, "EU", -5.0)], "id int, region string, amount double"
            ),
            TBL,
        )
    assert cat.read(TBL).count() == 2  # aborted into staging


def test_append_empty_is_versionless_noop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    df = _seed(spark, cat)
    before = cat.versions(TBL)
    assert cat.append(df.where("id > 100"), TBL) == 0
    assert cat.versions(TBL) == before


def test_append_creates_missing_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    n = cat.append(
        spark.createDataFrame([(1, "EU", 1.0)], "id int, region string, amount double"),
        TBL,
        partition_by=["region"],
    )
    assert n == 1
    assert cat.exists(TBL)


def test_append_job_type_through_runner(spark, tmp_path):
    import json as _json

    from mydatalake_spark.jobs import JobRunner

    meta = tmp_path / "meta" / "bronze"
    (meta / "events").mkdir(parents=True)
    (meta / "events" / "events.yml").write_text(
        """
catalog: bronze
schema: app
table: events
fields:
  - name: user
    type: string
  - name: value
    type: double
constraints:
  value_pos: value > 0
"""
    )
    (meta / "job_metadata.yml").write_text(
        """
jobs:
  - name: bronze_events
    type: append
    tables:
      - table_name: events
        input_format: json
"""
    )
    batch = tmp_path / "b1.json"
    batch.write_text(_json.dumps({"user": "u1", "value": 1.5}))
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = JobRunner(
        spark, cat, str(tmp_path / "meta"),
        input_paths={"events": str(batch)},
    )
    assert runner.run("append", "bronze_events") == ["bronze.app.events"]
    runner.run("append", "bronze_events")
    # append-only: two runs, two rows (documented non-idempotence)
    assert cat.read("bronze.app.events").count() == 2
    # YAML constraints attached and enforced on the NEXT append
    assert cat.constraints("bronze.app.events") == {"value_pos": "value > 0"}
    bad = tmp_path / "b2.json"
    bad.write_text(_json.dumps({"user": "u2", "value": -1.0}))
    runner.input_paths["events"] = str(bad)
    with pytest.raises(SparkRuntimeException, match="value_pos"):
        runner.run("append", "bronze_events")
    assert cat.read("bronze.app.events").count() == 2


def test_append_string_partition_column_survives_type_inference(
    spark, tmp_path
):
    # the live read infers day as DateType from the dirnames; the
    # incoming feed carries day as string — the flagship daily-load
    # case must not be rejected as type drift (review r10)
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("2024-01-01", 1, 5.0)], "day string, id int, v double"
    )
    cat.overwrite(df, TBL, partition_by=["day"])
    n = cat.append(
        spark.createDataFrame(
            [("2024-01-02", 2, 6.0)], "day string, id int, v double"
        ),
        TBL,
    )
    assert n == 1
    assert cat.read(TBL).count() == 2
    # data-column drift is still strict
    with pytest.raises(ValueError, match="type drift"):
        cat.append(
            spark.createDataFrame(
                [("2024-01-03", 3, "x")], "day string, id int, v string"
            ),
            TBL,
        )


def test_append_empty_to_partitioned_is_clean_noop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = _seed(spark, cat, partitioned=True)
    assert cat.append(df.where("id > 100"), TBL) == 0
    assert not os.path.isdir(cat.path(TBL) + "__appstaging")
    assert cat.read(TBL).count() == 2


def test_append_txn_replay_is_exactly_once(spark, tmp_path):
    # Delta txnAppId/txnVersion analogue: same token → no-op; new
    # token → appends; token book survives in the version root.
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = "bronze.ev.logs"
    day1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    day2 = spark.createDataFrame([(3, "c")], "id int, v string")
    assert cat.append(day1, t, txn_id="2024-01-01") == 2
    # replay of the same batch: exactly-once no-op
    assert cat.append(day1, t, txn_id="2024-01-01") == 0
    assert cat.read(t).count() == 2
    # a NEW token appends
    assert cat.append(day2, t, txn_id="2024-01-02") == 1
    assert cat.append(day2, t, txn_id="2024-01-02") == 0
    assert sorted(r.id for r in cat.read(t).collect()) == [1, 2, 3]


def test_append_txn_crashed_attempt_converges(spark, tmp_path):
    # Simulate a crash AFTER some files moved but BEFORE the token
    # was recorded: replaying the same txn removes the partial files
    # (recognizable by their txn- name prefix) and re-moves the full
    # batch — total rows converge to exactly one batch's worth.
    import json
    import os

    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = "bronze.ev.logs"
    base_batch = spark.createDataFrame([(1, "a")], "id int, v string")
    cat.append(base_batch, t)  # pre-existing untokened data
    batch = spark.createDataFrame(
        [(10, "x"), (11, "y")], "id int, v string"
    )
    assert cat.append(batch, t, txn_id="b7") == 2
    # forge the crash: erase the token record but leave the files
    book_path = cat._book_path(t)
    book = json.load(open(book_path))
    del book["commit"]["append_txns"]["b7"]
    json.dump(book, open(book_path, "w"))
    # replay: the two txn-b7-* files are cleaned up and re-moved
    assert cat.append(batch, t, txn_id="b7") == 2
    assert sorted(r.id for r in cat.read(t).collect()) == [1, 10, 11]
    # files carry the prefix, token recorded again
    names = [
        f
        for _dp, _dirs, fs in os.walk(cat.path(t))
        for f in fs
        if not f.startswith((".", "_"))
    ]
    assert sum(1 for f in names if f.startswith("txn-b7-")) >= 1
    assert cat._append_txn_seen(t, "b7")


def test_append_txn_first_batch_crash_retakes_create_path(spark, tmp_path):
    # The txn create path goes live in ONE atomic directory rename;
    # a crash before the token lands leaves a fully-prefixed table
    # whose cleanup empties it → the retry re-creates from scratch.
    import json

    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = "bronze.ev.first"
    batch = spark.createDataFrame([(1, "a")], "id int, v string")
    assert cat.append(batch, t, txn_id="t0") == 1
    book_path = cat._book_path(t)
    book = json.load(open(book_path))
    book["commit"]["append_txns"] = {}
    json.dump(book, open(book_path, "w"))  # crash: token lost
    assert cat.append(batch, t, txn_id="t0") == 1
    assert cat.read(t).count() == 1
    assert cat.append(batch, t, txn_id="t0") == 0  # now recorded


def test_append_txn_partitioned_and_bad_token(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = "bronze.ev.part"
    b1 = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], "day string, id int"
    )
    assert cat.append(b1, t, partition_by=["day"], txn_id="d1") == 2
    assert cat.append(b1, t, partition_by=["day"], txn_id="d1") == 0
    b2 = spark.createDataFrame([("2024-01-02", 3)], "day string, id int")
    assert cat.append(b2, t, txn_id="d2") == 1
    assert cat.read(t).count() == 3
    with pytest.raises(ValueError, match="filesystem-safe"):
        cat.append(b2, t, txn_id="bad/token")


def test_append_job_plumbs_txn_id(spark, tmp_path):
    # type: append job with a declared txn_id runs exactly-once
    import json as _json

    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.ingest import IngestorAppend

    meta_root = tmp_path / "meta" / "events"
    meta_root.mkdir(parents=True)
    (meta_root / "events.yml").write_text(
        """
catalog: bronze
schema: ev
table: events
fields:
  - name: id
    type: string
  - name: kind
    type: string
"""
    )
    src = tmp_path / "batch.json"
    src.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"id": "1", "kind": "click"},
                {"id": "2", "kind": "view"},
            ]
        )
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    for _ in range(2):  # second run replays the same token
        IngestorAppend(
            spark, cat, str(tmp_path / "meta"), "events",
            input_format="json", input_path=str(src),
            txn_id="batch-2024-01-01",
        ).run()
    assert cat.read("bronze.ev.events").count() == 2


def test_declared_empty_first_append_txn_crash_replay(spark, tmp_path):
    """First txn-append into a DECLARED-partitioned empty table goes
    through a whole-directory swap; a crash between the swap and the
    token record must not double the batch on replay (the retry sees
    a laid-out table, so the declared-empty branch is unreachable —
    the commit marker inside the swapped directory is the proof the
    batch landed)."""
    import os

    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.plans.table_sql import run_table_sql

    cat = Catalog(spark, str(tmp_path / "wh"))
    T = "silver.ev.t"
    run_table_sql(
        cat, f"CREATE TABLE {T} (id BIGINT, day STRING) PARTITIONED BY (day)"
    )
    df = spark.createDataFrame(
        [(1, "2024-01-02"), (2, "2024-01-03")], "id long, day string"
    )
    assert cat.append(df, T, txn_id="batch1") == 2
    # normal path: marker consumed, token recorded, replay no-ops
    assert cat.append(df, T, txn_id="batch1") == 0
    assert cat.read(T).count() == 2
    # forge the crash: swap landed (marker present) but token missing
    with open(os.path.join(cat.path(T), ".txn-batch1-create"), "w") as fh:
        fh.write("batch1")
    import json

    book_path = cat._book_path(T)
    book = json.load(open(book_path))
    del book["commit"]["append_txns"]
    json.dump(book, open(book_path, "w"))
    assert cat.append(df, T, txn_id="batch1") == 2  # recognized, no dup
    assert cat.read(T).count() == 2
    assert not os.path.exists(os.path.join(cat.path(T), ".txn-batch1-create"))
    # and now the token is recorded: a further replay no-ops
    assert cat.append(df, T, txn_id="batch1") == 0
