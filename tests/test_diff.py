"""snapshot_diff: keyed reconciliation between table versions."""

import pytest
from pyspark.sql import functions as F

from mydatalake_spark.operators.diff import snapshot_diff


def _pair(spark):
    old = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, "c", None),
            (4, "d", 40.0),
        ],
        "k bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),        # unchanged → omitted
            (2, "B", 21.0),        # both columns changed
            (3, "c", None),        # null == null → unchanged
            (5, "e", 50.0),        # insert
        ],
        "k bigint, s string, v double",
    )
    return old, new


def test_snapshot_diff_ops_and_changed_cols(spark):
    old, new = _pair(spark)
    got = {
        r.k: (r.op, list(r.changed_cols))
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        2: ("update", ["s", "v"]),
        4: ("delete", []),
        5: ("insert", []),
    }


def test_snapshot_diff_null_transitions_are_changes(spark):
    old = spark.createDataFrame([(1, None), (2, 5.0)], "k bigint, v double")
    new = spark.createDataFrame([(1, 3.0), (2, None)], "k bigint, v double")
    got = {
        r.k: (r.op, list(r.changed_cols))
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {1: ("update", ["v"]), 2: ("update", ["v"])}


def test_snapshot_diff_compare_cols_prunes(spark):
    old, new = _pair(spark)
    got = {
        r.k: (r.op, list(r.changed_cols))
        for r in snapshot_diff(old, new, ["k"], compare_cols=["s"]).collect()
    }
    # v-only changes invisible when comparing s alone; k=2 still differs
    assert got == {2: ("update", ["s"]), 4: ("delete", []), 5: ("insert", [])}


def test_snapshot_diff_rejects_missing_compare_col(spark):
    old, new = _pair(spark)
    with pytest.raises(ValueError, match="absent"):
        snapshot_diff(old, new.drop("v"), ["k"], compare_cols=["v"])


def test_snapshot_diff_identical_snapshots_empty(spark):
    old, _ = _pair(spark)
    assert snapshot_diff(old, old, ["k"]).count() == 0


def test_snapshot_diff_null_keys_match_null_safely(spark):
    """r4 advice regression: NULL-keyed rows must diff as
    update/unchanged via the null-safe key join — not surface as a
    spurious delete+insert pair."""
    old = spark.createDataFrame(
        [(None, 1.0), (1, 5.0)], "k int, v double"
    )
    new = spark.createDataFrame(
        [(None, 2.0), (1, 5.0)], "k int, v double"
    )
    got = {
        (r.k, r.op, tuple(r.changed_cols))
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    # the NULL-keyed row changed value → ONE update; row k=1 unchanged
    assert got == {(None, "update", ("v",))}


def test_apply_snapshot_diff_replays_null_keyed_changes(spark):
    from mydatalake_spark.operators.diff import apply_snapshot_diff

    old = spark.createDataFrame(
        [(None, 1.0), (1, 5.0), (2, 7.0)], "k int, v double"
    )
    new = spark.createDataFrame(
        [(None, 2.0), (1, 5.0)], "k int, v double"
    )
    d = snapshot_diff(old, new, ["k"], include_new_values=True)
    rebuilt = apply_snapshot_diff(old, d, ["k"])
    assert sorted(
        ((r.k, r.v) for r in rebuilt.collect()),
        key=lambda t: (t[0] is None, t[0]),
    ) == [(1, 5.0), (None, 2.0)]


# ---------------------------------------------------------------- CDF


def test_change_feed_row_kinds(spark):
    from mydatalake_spark.operators.diff import change_feed

    old, new = _pair(spark)
    got = sorted(
        (r.k, r._change_type, r.s, r.v)
        for r in change_feed(old, new, ["k"]).collect()
    )
    assert got == [
        (2, "update_postimage", "B", 21.0),
        (2, "update_preimage", "b", 20.0),
        (4, "delete", "d", 40.0),
        (5, "insert", "e", 50.0),
    ]


def test_change_feed_null_key_matches_counterpart(spark):
    from mydatalake_spark.operators.diff import change_feed

    old = spark.createDataFrame([(None, 1.0)], "k bigint, v double")
    new = spark.createDataFrame([(None, 2.0)], "k bigint, v double")
    kinds = sorted(
        r._change_type for r in change_feed(old, new, ["k"]).collect()
    )
    # NULL key diffs as an update pair, never delete+insert
    assert kinds == ["update_postimage", "update_preimage"]


def test_change_feed_unchanged_rows_emit_nothing(spark):
    from mydatalake_spark.operators.diff import change_feed

    old, _ = _pair(spark)
    assert change_feed(old, old, ["k"]).count() == 0


def test_change_feed_schema_drift_fails_eagerly(spark):
    from mydatalake_spark.operators.diff import change_feed

    old = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    new = spark.createDataFrame([(1, "x")], "k bigint, v string")
    with pytest.raises(ValueError, match="matching column types.*v"):
        change_feed(old, new, ["k"])


def test_apply_change_feed_reproduces_new(spark):
    from mydatalake_spark.operators.diff import (
        apply_change_feed,
        change_feed,
    )

    old, new = _pair(spark)
    rebuilt = apply_change_feed(old, change_feed(old, new, ["k"]), ["k"])
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


def test_apply_change_feed_requires_change_type(spark):
    from mydatalake_spark.operators.diff import apply_change_feed

    old, new = _pair(spark)
    with pytest.raises(ValueError, match="_change_type"):
        apply_change_feed(old, new, ["k"])


def test_table_changes_versions_and_commit_column(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog

    old = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double")
    new = spark.createDataFrame([(2, 25.0), (3, 30.0)], "k bigint, v double")
    cat = Catalog(spark, str(tmp_path), keep_versions=3)
    cat.overwrite_via_staging(old, "c.s.t")
    cat.overwrite_via_staging(new, "c.s.t")   # snapshots v1
    cat.overwrite_via_staging(new, "c.s.t")   # snapshots v2

    fixed = cat.table_changes("c.s.t", ["k"], from_version=1, to_version=2)
    got = sorted((r.k, r._change_type, r._commit_version)
                 for r in fixed.collect())
    assert got == [
        (1, "delete", 2),
        (2, "update_postimage", 2),
        (2, "update_preimage", 2),
        (3, "insert", 2),
    ]
    # live target: same net changes, NULL commit version (live state
    # carries no number until an overwrite replaces it)
    live = cat.table_changes("c.s.t", ["k"], from_version=1)
    assert {r._commit_version for r in live.collect()} == {None}
    # v2 == live here, so the two feeds agree row-for-row
    assert (
        live.drop("_commit_version")
        .exceptAll(fixed.drop("_commit_version"))
        .count()
        == 0
    )
    with pytest.raises(ValueError, match="not retained"):
        cat.table_changes("c.s.t", ["k"], from_version=99)


def test_incremental_agg_apply_changes_matches_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.operators.diff import change_feed
    from mydatalake_spark.views import IncrementalAggView

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k bigint, g string, v double",
    )
    # group a: one row updated; group b: fully retracted (must leave
    # the view); group c: untouched; group d: born via insert
    new = spark.createDataFrame(
        [(1, "a", 15.0), (2, "a", 20.0), (4, "c", 40.0), (5, "d", 50.0)],
        "k bigint, g string, v double",
    )
    cat = Catalog(spark, str(tmp_path))
    view = IncrementalAggView(
        spark, cat, "g.s.rev", keys=["g"], measures={"total": "v"}
    )
    view.apply(old)
    view.apply_changes(change_feed(old, new, ["k"]))
    got = {r.g: (r.total, r.n_rows) for r in view.read().collect()}
    exp = {
        r.g: (r.total, r.n_rows)
        for r in new.groupBy("g")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert got == exp
    assert "b" not in got


def test_incremental_agg_apply_changes_rejects_bad_feed(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.views import IncrementalAggView

    cat = Catalog(spark, str(tmp_path))
    view = IncrementalAggView(
        spark, cat, "g.s.rev", keys=["g"], measures={"total": "v"}
    )
    plain = spark.createDataFrame(
        [(1, "a", 1.0)], "k bigint, g string, v double"
    )
    with pytest.raises(ValueError, match="_change_type"):
        view.apply_changes(plain)
    bad = spark.createDataFrame(
        [(1, "a", 1.0, "upsert")],
        "k bigint, g string, v double, _change_type string",
    )
    with pytest.raises(Exception, match="unknown _change_type"):
        view.apply_changes(bad)


def test_change_feed_rejects_key_in_compare_cols(spark):
    from mydatalake_spark.operators.diff import change_feed

    old, new = _pair(spark)
    with pytest.raises(ValueError, match="both key and compared"):
        change_feed(old, new, ["k"], compare_cols=["k", "v"])


def test_table_changes_names_missing_key_column(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), keep_versions=2)
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    cat.overwrite_via_staging(df, "c.s.t")
    cat.overwrite_via_staging(df, "c.s.t")
    with pytest.raises(ValueError, match="key column.*nope"):
        cat.table_changes("c.s.t", ["nope"], from_version=1)


# ------------------------------------------------- r10: per-commit CDF


def _three_versions(spark, tmp_path):
    """v1 = {1:10, 2:20}; v2 deletes 1, updates 2→25, inserts 3;
    v3 updates 3→35, inserts 4. Returns the catalog."""
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=5)
    states = [
        [(1, 10.0), (2, 20.0)],
        [(2, 25.0), (3, 30.0)],
        [(2, 25.0), (3, 35.0), (4, 40.0)],
    ]
    for s in states:
        cat.overwrite_via_staging(
            spark.createDataFrame(s, "k bigint, v double"), "c.s.t"
        )
    cat.overwrite_via_staging(
        spark.createDataFrame(states[-1], "k bigint, v double"), "c.s.t"
    )  # snapshots v3; live == v3
    return cat


def test_table_changes_per_commit_emits_one_batch_per_hop(spark, tmp_path):
    """VERDICT r9 ask #3: granularity='commit' gives Delta
    table_changes semantics — each retained hop's changes stamped
    with the DESTINATION version, so intermediate states do not
    collapse into the endpoint diff."""
    cat = _three_versions(spark, tmp_path)
    feed = cat.table_changes(
        "c.s.t", ["k"], from_version=1, to_version=3, granularity="commit"
    )
    got = sorted(
        (r.k, float(r.v), r._change_type, r._commit_version)
        for r in feed.collect()
    )
    assert got == [
        (1, 10.0, "delete", 2),
        (2, 20.0, "update_preimage", 2),
        (2, 25.0, "update_postimage", 2),
        (3, 30.0, "insert", 2),
        (3, 30.0, "update_preimage", 3),
        (3, 35.0, "update_postimage", 3),
        (4, 40.0, "insert", 3),
    ]
    # the k=3 intermediate insert+update is exactly what net mode
    # collapses (net shows one insert of the final value)
    net = cat.table_changes("c.s.t", ["k"], from_version=1, to_version=3)
    net_k3 = [
        (r._change_type, float(r.v)) for r in net.collect() if r.k == 3
    ]
    assert net_k3 == [("insert", 35.0)]


def test_table_changes_per_commit_replay_reconstructs_each_state(
    spark, tmp_path
):
    """Replaying the per-commit feed hop by hop reproduces every
    intermediate snapshot — the CDC-consumer property net mode cannot
    provide."""
    from mydatalake_spark.operators.diff import apply_change_feed

    cat = _three_versions(spark, tmp_path)
    feed = cat.table_changes(
        "c.s.t", ["k"], from_version=1, to_version=3, granularity="commit"
    )
    state = cat.read_version("c.s.t", version=1)
    for v in (2, 3):
        hop = feed.where(F.col("_commit_version") == v).drop(
            "_commit_version"
        )
        state = apply_change_feed(state, hop, ["k"])
        want = cat.read_version("c.s.t", version=v)
        assert state.exceptAll(want).count() == 0
        assert want.exceptAll(state).count() == 0


def test_table_changes_per_commit_live_tail_and_empty_range(spark, tmp_path):
    cat = _three_versions(spark, tmp_path)
    # extra live mutation beyond v3
    cat.overwrite_via_staging(
        spark.createDataFrame(
            [(2, 25.0), (3, 35.0), (4, 44.0)], "k bigint, v double"
        ),
        "c.s.t",
    )  # snapshots v4 == old live; live now differs
    feed = cat.table_changes(
        "c.s.t", ["k"], from_version=3, granularity="commit"
    )
    got = sorted(
        ((r.k, r._change_type, r._commit_version) for r in feed.collect()),
        key=lambda t: (t[0], t[1]),
    )
    # v3→v4 is empty (same rows); v4→live updates k=4, stamped NULL
    assert got == [
        (4, "update_postimage", None),
        (4, "update_preimage", None),
    ]
    # from == to: empty feed with the CDF schema
    empty = cat.table_changes(
        "c.s.t", ["k"], from_version=2, to_version=2, granularity="commit"
    )
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_table_changes_per_commit_refuses_vacuumed_gap(spark, tmp_path):
    cat = _three_versions(spark, tmp_path)
    import os
    import shutil

    # retire v2 by hand (a vacuum that kept v1 and v3)
    shutil.rmtree(
        os.path.join(cat._version_root("c.s.t"), "v00000002")
    )
    with pytest.raises(ValueError, match="missing \\[2\\]"):
        cat.table_changes(
            "c.s.t", ["k"], from_version=1, to_version=3,
            granularity="commit",
        )
    # net mode still works over the gap
    assert (
        cat.table_changes(
            "c.s.t", ["k"], from_version=1, to_version=3
        ).count()
        > 0
    )
    with pytest.raises(ValueError, match="granularity"):
        cat.table_changes(
            "c.s.t", ["k"], from_version=1, granularity="hourly"
        )


def test_apply_change_feed_refuses_subset_feed(spark):
    """ADVICE r9: a compare_cols-subset feed cannot reconstruct rows —
    the error must name the contract, not surface as an
    AnalysisException from the final select."""
    from mydatalake_spark.operators.diff import apply_change_feed, change_feed

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, g string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 9.0), (2, "b", 2.0)], "k bigint, g string, v double"
    )
    subset = change_feed(old, new, ["k"], compare_cols=["v"])
    with pytest.raises(ValueError, match="full-column feed"):
        apply_change_feed(old, subset, ["k"])


# ------------------------------------- r10: partition-pruned diff


def test_touched_partitions_probe_proves_untouched_leaves(spark, tmp_path):
    """snapshot() hardlinks + leaf-swap writes keep untouched leaves
    inode-identical, so the directory-metadata probe returns exactly
    the touched leaf set — no data file opened."""
    import os

    from mydatalake_spark.catalog import Catalog, _touched_partitions
    from mydatalake_spark.operators.merge import merge_upsert_partitioned

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=5)
    base = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
        F.lit(1).alias("ts"),
    )
    cat.overwrite(base, "g.s.t", partition_by=["p"])
    assert cat.snapshot("g.s.t") == 1
    chg = spark.createDataFrame(
        [(2, "2", 99.0, 2), (100, "2", 55.0, 2)],
        "k long, p string, v double, ts int",
    )
    merge_upsert_partitioned(cat, "g.s.t", chg, ["k", "p"], "p", "ts")
    assert cat.snapshot("g.s.t") == 3
    vroot = cat._version_root("g.s.t")
    assert _touched_partitions(
        os.path.join(vroot, "v00000001"),
        os.path.join(vroot, "v00000003"),
        ["p"],
    ) == [("2",)]

    pruned = cat.table_changes(
        "g.s.t", ["k"], from_version=1, to_version=3, partition_cols=["p"]
    )
    full = cat.table_changes("g.s.t", ["k"], from_version=1, to_version=3)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_snapshot_requires_live_table_and_versioning(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog

    cat0 = Catalog(spark, str(tmp_path / "wh0"))
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    cat0.overwrite(df, "g.s.t")
    with pytest.raises(ValueError, match="keep_versions"):
        cat0.snapshot("g.s.t")
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    with pytest.raises(ValueError, match="no live table"):
        cat.snapshot("g.s.missing")
    cat.overwrite(df, "g.s.t")
    assert cat.snapshot("g.s.t") == 1
    # live table still present and readable after the checkpoint
    assert cat.read("g.s.t").count() == 1
    # snapshots interleave with overwrite versioning, numbers monotonic
    cat.overwrite_via_staging(df, "g.s.t")
    assert cat.snapshot("g.s.t") == 3


def test_catalog_snapshot_diff_prunes_and_matches_operator(spark, tmp_path):
    """Catalog.snapshot_diff shares table_changes' pruned scan stage:
    same rows as the raw operator over the two full snapshots, and
    the reconciliation row shape (op/changed_cols/new_row)."""
    import os

    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.operators.diff import snapshot_diff
    from mydatalake_spark.operators.merge import merge_upsert_partitioned

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    base = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
        F.lit(1).alias("ts"),
    )
    cat.overwrite(base, "g.s.t", partition_by=["p"])
    cat.snapshot("g.s.t")
    chg = spark.createDataFrame(
        [(2, "2", 99.0, 2), (100, "2", 55.0, 2)],
        "k long, p string, v double, ts int",
    )
    merge_upsert_partitioned(cat, "g.s.t", chg, ["k", "p"], "p", "ts")
    cat.snapshot("g.s.t")

    pruned = cat.snapshot_diff(
        "g.s.t", ["k"], from_version=1, to_version=3,
        partition_cols=["p"], include_new_values=True,
    )
    raw = snapshot_diff(
        cat.read_version("g.s.t", version=1),
        cat.read_version("g.s.t", version=3),
        ["k"], include_new_values=True,
    )
    assert sorted(
        (r.k, r.op, tuple(r.changed_cols)) for r in pruned.collect()
    ) == sorted((r.k, r.op, tuple(r.changed_cols)) for r in raw.collect())
    # the pruned scans carry a partition filter (shared _diff_slices)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert len(pf) == 2 and all("[]" not in l for l in pf), pf
    # live-state target works too
    live = cat.snapshot_diff("g.s.t", ["k"], from_version=3)
    assert live.count() == 0  # live == v3


def test_table_changes_timestamp_addressed(spark, tmp_path):
    """Delta's other table_changes form: quoted instants resolve
    through the per-write commit clock to the state committed at or
    before each, then feed exactly as the version-addressed read
    (VERDICT r12 ask #1 — possible now that r12 built the clock)."""
    import time

    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), keep_versions=4)
    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double")
    b2 = spark.createDataFrame([(2, 25.0), (3, 30.0)], "k bigint, v double")
    b3 = spark.createDataFrame([(3, 35.0), (4, 40.0)], "k bigint, v double")
    cat.overwrite_via_staging(b1, "c.s.t")
    time.sleep(0.25)
    t_after_1 = time.time()
    time.sleep(0.25)
    cat.overwrite_via_staging(b2, "c.s.t")
    time.sleep(0.25)
    t_after_2 = time.time()
    time.sleep(0.25)
    cat.overwrite_via_staging(b3, "c.s.t")

    # ts window (after batch1, after batch2) == version window (1, 2)
    by_ts = cat.table_changes(
        "c.s.t", ["k"],
        from_timestamp=t_after_1, to_timestamp=t_after_2,
    )
    by_v = cat.table_changes(
        "c.s.t", ["k"], from_version=1, to_version=2,
    )
    assert sorted(map(tuple, by_ts.collect())) == sorted(
        map(tuple, by_v.collect())
    )
    # to_timestamp at/after the last commit ends the feed at LIVE
    live_end = cat.table_changes(
        "c.s.t", ["k"],
        from_timestamp=t_after_2, to_timestamp=time.time(),
    )
    assert {r._commit_version for r in live_end.collect()} == {None}
    assert {(r.k, r._change_type) for r in live_end.collect()} == {
        (2, "delete"), (3, "update_preimage"),
        (3, "update_postimage"), (4, "insert"),
    }
    # from at/after the latest commit: nothing after it — refuse
    with pytest.raises(ValueError, match="at or after the latest"):
        cat.table_changes("c.s.t", ["k"], from_timestamp=time.time())
    # before every retained commit: Delta's before-earliest error
    with pytest.raises(ValueError, match="predates every retained"):
        cat.table_changes("c.s.t", ["k"], from_timestamp=1.0)
    # exactly one from-addressing; at most one to-addressing
    with pytest.raises(ValueError, match="exactly one"):
        cat.table_changes("c.s.t", ["k"])
    with pytest.raises(ValueError, match="exactly one"):
        cat.table_changes(
            "c.s.t", ["k"], from_version=1, from_timestamp=t_after_1
        )
    with pytest.raises(ValueError, match="at most one"):
        cat.table_changes(
            "c.s.t", ["k"], from_version=1,
            to_version=2, to_timestamp=t_after_2,
        )


def test_table_changes_sql_timestamp_form(spark, tmp_path):
    """SQL: table_changes('t', '<ts1>'[, '<ts2>'], 'keys') — quoted
    bounds address by timestamp, bare integers by version, mixed ok."""
    import datetime
    import time

    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.plans.table_sql import run_table_sql

    cat = Catalog(spark, str(tmp_path), keep_versions=4)
    b1 = spark.createDataFrame([(1, 10.0)], "k bigint, v double")
    b2 = spark.createDataFrame([(1, 15.0), (2, 20.0)], "k bigint, v double")
    cat.overwrite_via_staging(b1, "c.s.t")
    time.sleep(0.25)
    mid = datetime.datetime.now().strftime("%Y-%m-%d %H:%M:%S.%f")
    time.sleep(0.25)
    cat.overwrite_via_staging(b2, "c.s.t")

    rows = run_table_sql(
        cat,
        f"SELECT k, _change_type FROM table_changes('c.s.t', '{mid}', 'k') "
        "ORDER BY k, _change_type",
    ).collect()
    assert [(r.k, r._change_type) for r in rows] == [
        (1, "update_postimage"), (1, "update_preimage"), (2, "insert"),
    ]
    # mixed: version from-bound, timestamp to-bound
    end = datetime.datetime.now().strftime("%Y-%m-%d %H:%M:%S.%f")
    rows2 = run_table_sql(
        cat,
        f"SELECT k, _change_type FROM table_changes('c.s.t', 1, '{end}', 'k') "
        "ORDER BY k, _change_type",
    ).collect()
    assert [(r.k, r._change_type) for r in rows2] == [
        (1, "update_postimage"), (1, "update_preimage"), (2, "insert"),
    ]


def test_table_changes_inverted_range_raises(spark, tmp_path):
    """ADVICE r13: from AFTER to must raise (Delta errors), never
    return the feed with inserts and deletes swapped."""
    from mydatalake_spark.catalog import Catalog

    old = spark.createDataFrame([(1, 10.0)], "k bigint, v double")
    new = spark.createDataFrame([(2, 20.0)], "k bigint, v double")
    cat = Catalog(spark, str(tmp_path), keep_versions=4)
    cat.overwrite_via_staging(old, "c.s.t")
    cat.overwrite_via_staging(new, "c.s.t")   # v1
    cat.overwrite_via_staging(new, "c.s.t")   # v2
    with pytest.raises(ValueError, match="inverted"):
        cat.table_changes("c.s.t", ["k"], from_version=2, to_version=1)
    with pytest.raises(ValueError, match="inverted"):
        cat.table_changes(
            "c.s.t", ["k"], from_version=2, to_version=1,
            granularity="commit",
        )
    # equal bounds stay legal (empty feed)
    assert (
        cat.table_changes(
            "c.s.t", ["k"], from_version=1, to_version=1
        ).count()
        == 0
    )
