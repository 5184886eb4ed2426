"""Delta Lake capability flag: gated paths fail fast without
delta-spark and run the ACID MERGE when it is importable.

The reference's production path is Delta on Databricks
(reference lib/ingestors.py:92-96,113-126); this repo emulates MERGE
with a join on parquet and flips to real DeltaTable MERGE behind
``delta_available()``. This environment has no delta-spark, so the
positive-path tests skip and the capability-error tests run.
"""

import pytest

from mydatalake_spark.catalog import Catalog, delta_available
from mydatalake_spark.operators.merge import merge_upsert_delta

HAVE_DELTA = delta_available()


@pytest.mark.skipif(HAVE_DELTA, reason="delta installed: error path n/a")
def test_catalog_delta_without_package_fails_fast(spark, tmp_path):
    with pytest.raises(ImportError, match="delta-spark"):
        Catalog(spark, str(tmp_path), fmt="delta")


@pytest.mark.skipif(HAVE_DELTA, reason="delta installed: error path n/a")
def test_merge_delta_without_package_fails_fast(spark, tmp_path):
    src = spark.createDataFrame([(1, "a", 1)], "id int, v string, ts int")
    with pytest.raises(ImportError, match="delta-spark"):
        merge_upsert_delta(spark, str(tmp_path / "t"), src, ["id"], "ts")


class _RecordingMerge:
    """DeltaTable-like builder that records the MERGE contract."""

    def __init__(self, rec):
        self.rec = rec

    def alias(self, a):
        self.rec["target_alias"] = a
        return self

    def merge(self, src_df, condition):
        self.rec["source_df"] = src_df
        self.rec["on"] = condition
        return self

    def whenMatchedUpdateAll(self, condition=None):
        self.rec["matched_update_all"] = True
        self.rec["matched_condition"] = condition
        return self

    def whenNotMatchedInsertAll(self):
        self.rec["not_matched_insert_all"] = True
        return self

    def execute(self):
        self.rec["executed"] = True


def test_merge_delta_contract_with_mock(spark):
    """Compile-level contract of the ACID path, executed WITHOUT
    delta-spark: key-only null-safe ON clause, ts guard in the
    whenMatched condition (null ts ≡ -infinity on both sides),
    insert-all for new keys, and a pre-deduped (unique per key,
    latest-wins) source — the four properties Delta MERGE needs for
    the corrected reference semantics (reference
    lib/ingestors.py:113-126 puts the ts guard in ON; see §7.4(2))."""
    rec = {}
    source = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "x", 1)],
        "id int, v string, ts int",
    )
    merge_upsert_delta(
        spark, "/nonexistent", source, ["id"], "ts",
        delta_table=_RecordingMerge(rec),
    )
    assert rec["executed"]
    assert rec["target_alias"] == "t"
    assert rec["on"] == "t.id <=> s.id"
    assert rec["matched_update_all"]
    assert rec["matched_condition"] == (
        "t.ts IS NULL OR (s.ts IS NOT NULL AND s.ts >= t.ts)"
    )
    assert rec["not_matched_insert_all"]
    # Delta requires one source row per target key: pre-dedup is
    # latest-wins on ts
    got = {(r.id, r.v) for r in rec["source_df"].collect()}
    assert got == {(1, "new"), (2, "x")}


def test_merge_delta_contract_no_ts(spark):
    """ts_col=None (the 6-col history upsert shape, reference
    lib/checker_handler.py:179-191): unconditional update-all, multi-
    key null-safe ON."""
    rec = {}
    source = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "x")], "k1 int, k2 string, v string"
    )
    merge_upsert_delta(
        spark, "/nonexistent", source, ["k1", "k2"], None,
        delta_table=_RecordingMerge(rec),
    )
    assert rec["on"] == "t.k1 <=> s.k1 AND t.k2 <=> s.k2"
    assert rec["matched_condition"] is None
    assert rec["executed"]
    assert rec["source_df"].count() == 1     # dropDuplicates on keys


@pytest.mark.skipif(not HAVE_DELTA, reason="delta-spark not importable")
def test_delta_cdc_merge_end_to_end(spark, tmp_path):
    """Same scenario as test_merge_upsert_semantics, on real Delta:
    newer source row wins, stale row is NOT re-inserted, new key
    inserted, null-ts follows the -infinity rule."""
    path = str(tmp_path / "delta_tbl")
    target = spark.createDataFrame(
        [(1, "t1", 10), (2, "t2", 20), (3, "t3", None)],
        "id int, v string, ts int",
    )
    target.write.format("delta").save(path)
    source = spark.createDataFrame(
        [(1, "s1", 11), (2, "s2", 5), (3, "s3", None), (4, "s4", 1)],
        "id int, v string, ts int",
    )
    merge_upsert_delta(spark, path, source, ["id"], "ts")
    got = {
        (r.id, r.v)
        for r in spark.read.format("delta").load(path).collect()
    }
    assert got == {(1, "s1"), (2, "t2"), (3, "s3"), (4, "s4")}


def test_merge_delta_contract_delete_missing(spark):
    """Full-sync parity: delete_missing=True must add
    whenNotMatchedBySourceDelete() to the Delta MERGE — the clause
    whose join-emulation twin (merge_upsert delete_missing) drops
    target-only keys."""
    rec = {}
    source = spark.createDataFrame([(1, "a", 1)], "id int, v string, ts int")

    class _Rec(_RecordingMerge):
        def whenNotMatchedBySourceDelete(self):
            self.rec["not_matched_by_source_delete"] = True
            return self

    merge_upsert_delta(
        spark, "/nonexistent", source, ["id"], "ts",
        delta_table=_Rec(rec), delete_missing=True,
    )
    assert rec["executed"]
    assert rec.get("not_matched_by_source_delete") is True

    # default path must NOT request the clause (upsert keeps
    # target-only rows)
    rec2 = {}
    merge_upsert_delta(
        spark, "/nonexistent", source, ["id"], "ts",
        delta_table=_Rec(rec2),
    )
    assert rec2["executed"]
    assert "not_matched_by_source_delete" not in rec2


def test_merge_upsert_delete_missing_semantics(spark):
    """Join-emulation semantics the Delta clause mirrors: matched keys
    follow latest-wins, source-only keys insert, target-only keys are
    DELETED under delete_missing (kept without it)."""
    from mydatalake_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "t1", 10), (2, "t2", 20), (3, "t3", 30)],
        "id int, v string, ts int",
    )
    source = spark.createDataFrame(
        [(1, "s1", 11), (4, "s4", 1)], "id int, v string, ts int",
    )
    full_sync = {
        (r.id, r.v)
        for r in merge_upsert(
            target, source, ["id"], "ts", delete_missing=True
        ).collect()
    }
    assert full_sync == {(1, "s1"), (4, "s4")}    # 2 and 3 deleted

    upsert = {
        (r.id, r.v)
        for r in merge_upsert(target, source, ["id"], "ts").collect()
    }
    assert upsert == {(1, "s1"), (2, "t2"), (3, "t3"), (4, "s4")}


class _RecordingMergeEvolve(_RecordingMerge):
    def withSchemaEvolution(self):
        self.rec["schema_evolution"] = True
        return self


def test_merge_delta_contract_schema_evolution(spark):
    """evolve_schema=True must call withSchemaEvolution() on the
    merge builder (Delta >=3.1 per-statement evolution) BEFORE the
    clause chain, with the rest of the contract unchanged — parity
    with merge_upsert(evolve_schema=True)'s additive-drift rule."""
    rec = {}
    source = spark.createDataFrame(
        [(1, "new", 2, "extra")], "id int, v string, ts int, added string"
    )
    merge_upsert_delta(
        spark, "/nonexistent", source, ["id"], "ts",
        delta_table=_RecordingMergeEvolve(rec), evolve_schema=True,
    )
    assert rec["schema_evolution"]
    assert rec["on"] == "t.id <=> s.id"
    assert rec["matched_update_all"] and rec["not_matched_insert_all"]
    assert rec["executed"]
    # the evolving column rides along in the deduped source
    assert "added" in rec["source_df"].columns

    # default: evolution NOT requested -> builder never touched
    rec2 = {}
    merge_upsert_delta(
        spark, "/nonexistent", source.drop("added"), ["id"], "ts",
        delta_table=_RecordingMerge(rec2),
    )
    assert "schema_evolution" not in rec2


def test_merge_emulated_schema_evolution_parity(spark):
    """The join-emulation path's evolve_schema contract the Delta
    clause must match: additive source columns append with typed
    nulls for untouched rows; updated/inserted rows carry the source
    value."""
    from mydatalake_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "keep", 5), (2, "stale", 5)], "id int, v string, ts int"
    )
    source = spark.createDataFrame(
        [(2, "fresh", 9, "N2"), (3, "ins", 9, "N3")],
        "id int, v string, ts int, region string",
    )
    out = {
        r.id: (r.v, r.region)
        for r in merge_upsert(
            target, source, ["id"], "ts", evolve_schema=True
        ).collect()
    }
    assert out == {
        1: ("keep", None),       # untouched row reads NULL in new col
        2: ("fresh", "N2"),
        3: ("ins", "N3"),
    }


@pytest.mark.skipif(not HAVE_DELTA, reason="delta-spark not importable")
def test_delta_schema_evolution_end_to_end(spark, tmp_path):
    """Auto-enables when a compatible delta-spark appears: additive
    MERGE evolution against a real Delta table."""
    path = str(tmp_path / "dtab_evo")
    spark.createDataFrame(
        [(1, "keep", 5), (2, "stale", 5)], "id int, v string, ts int"
    ).write.format("delta").save(path)
    source = spark.createDataFrame(
        [(2, "fresh", 9, "N2"), (3, "ins", 9, "N3")],
        "id int, v string, ts int, region string",
    )
    merge_upsert_delta(spark, path, source, ["id"], "ts",
                       evolve_schema=True)
    got = {
        r.id: (r.v, r.region)
        for r in spark.read.format("delta").load(path).collect()
    }
    assert got == {1: ("keep", None), 2: ("fresh", "N2"),
                   3: ("ins", "N3")}


class _RecordingMergeFull(_RecordingMergeEvolve):
    """Records the FULL clause surface: evolution + delete-missing."""

    def whenNotMatchedBySourceDelete(self):
        self.rec["not_matched_by_source_delete"] = True
        self.rec["delete_after_insert"] = self.rec.get(
            "not_matched_insert_all", False
        )
        return self


def test_merge_delta_contract_composed_evolution_and_full_sync(spark):
    """The composed contract (r7 standing item): schema evolution AND
    delete_missing in ONE merge call — withSchemaEvolution() before
    the clause chain, ts-guarded update-all, insert-all, then
    whenNotMatchedBySourceDelete last, all on the same builder, with
    the evolving column riding in the deduped source."""
    rec = {}
    source = spark.createDataFrame(
        [(1, "old", 1, "X"), (1, "new", 2, "Y"), (4, "ins", 1, "Z")],
        "id int, v string, ts int, added string",
    )
    merge_upsert_delta(
        spark, "/nonexistent", source, ["id"], "ts",
        delta_table=_RecordingMergeFull(rec),
        evolve_schema=True, delete_missing=True,
    )
    assert rec["executed"]
    assert rec["schema_evolution"]
    assert rec["on"] == "t.id <=> s.id"
    assert rec["matched_condition"] == (
        "t.ts IS NULL OR (s.ts IS NOT NULL AND s.ts >= t.ts)"
    )
    assert rec["not_matched_insert_all"]
    assert rec["not_matched_by_source_delete"]
    # clause order Delta mandates: delete clause added after insert
    assert rec["delete_after_insert"]
    # evolving column present; source pre-deduped latest-wins
    got = {(r.id, r.v, r.added) for r in rec["source_df"].collect()}
    assert got == {(1, "new", "Y"), (4, "ins", "Z")}


def test_merge_emulated_composed_evolution_and_full_sync(spark):
    """Join-emulation parity for the composed call: additive column
    appends with typed nulls, AND target-only keys are deleted —
    both semantics in one merge_upsert invocation."""
    from mydatalake_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "keep", 5), (2, "gone", 5)], "id int, v string, ts int"
    )
    source = spark.createDataFrame(
        [(1, "fresh", 9, "N1"), (3, "ins", 9, "N3")],
        "id int, v string, ts int, region string",
    )
    out = {
        r.id: (r.v, r.region)
        for r in merge_upsert(
            target, source, ["id"], "ts",
            evolve_schema=True, delete_missing=True,
        ).collect()
    }
    # id=2 deleted (absent from source); evolving column populated
    assert out == {1: ("fresh", "N1"), 3: ("ins", "N3")}


# -- snapshot-read (time travel) contract on the emulated path --------
#
# VERDICT r7 ask #5: delta-spark remains unreachable in-env (no wheel
# on the index; pip install is disallowed anyway), so the capability
# surface converges from the other side — the parquet catalog's
# rename-only snapshots grow the Delta time-travel contract:
# versionAsOf-style ABSOLUTE addressing, DESCRIBE HISTORY, and
# snapshot-isolation reads that survive subsequent publishes.
# Numbering analogue: Delta numbers states at commit (0 = first
# write); the emulation numbers a state when it is REPLACED (v1 = the
# first replaced state, the live table is unnumbered) — same
# monotonic, never-reused addressing, shifted to replacement time.


def _kv_batch(spark, v):
    return spark.createDataFrame([(1, v), (2, v)], "id long, v string")


def test_snapshot_read_contract_version_as_of(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    for v in ("a", "b", "c", "d"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    # absolute: v1=a, v2=b, v3=c; live=d
    assert cat.read_version("g.s.t", version=1).first().v == "a"
    assert cat.read_version("g.s.t", version=3).first().v == "c"
    # label addressing is equivalent
    assert cat.read_version("g.s.t", version="v00000002").first().v == "b"
    # absolute and relative agree
    assert (
        cat.read_version("g.s.t", version=3).first().v
        == cat.read_version("g.s.t", 1).first().v
    )
    # never-written version fails fast
    with pytest.raises(ValueError, match="not retained"):
        cat.read_version("g.s.t", version=9)


def test_snapshot_read_contract_pruning_vacuums_numbers(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    for v in ("a", "b", "c", "d"):
        cat.overwrite(_kv_batch(spark, v), "g.s.t")
    # keep_versions=2 retains v2,v3 (b,c); v1 (a) is vacuumed but its
    # NUMBER is never reused — later states keep climbing
    assert [h["version"] for h in cat.history("g.s.t")] == [2, 3]
    with pytest.raises(ValueError, match="not retained"):
        cat.read_version("g.s.t", version=1)
    assert cat.read_version("g.s.t", version=2).first().v == "b"


def test_snapshot_read_contract_history_monotonic(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    for v in ("a", "b", "c"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    h = cat.history("g.s.t")
    assert [r["version"] for r in h] == [1, 2]
    assert [r["label"] for r in h] == ["v00000001", "v00000002"]
    # commit times never decrease along version order
    times = [r["snapshot_time"] for r in h]
    assert times == sorted(times)
    assert cat.history("g.s.never") == []


def test_snapshot_read_contract_stability_across_publish(spark, tmp_path):
    """Snapshot-isolation analogue: a version frame taken BEFORE a
    later publish still reads the same rows AFTER it — publishes
    rename the live dir aside, they never touch retained snapshots."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=5)
    cat.overwrite_via_staging(_kv_batch(spark, "a"), "g.s.t")
    cat.overwrite_via_staging(_kv_batch(spark, "b"), "g.s.t")
    frame = cat.read_version("g.s.t", version=1)          # state "a"
    cat.overwrite_via_staging(_kv_batch(spark, "c"), "g.s.t")
    cat.overwrite_via_staging(_kv_batch(spark, "d"), "g.s.t")
    assert sorted(r.v for r in frame.collect()) == ["a", "a"]
    # and the numbering did not shift under it
    assert cat.read_version("g.s.t", version=1).first().v == "a"


def test_snapshot_read_contract_wap_pre_publish_recovery(spark, tmp_path):
    """Read-at-snapshot composed with the WAP gate: after an
    audit-gated publish, the production state the publish replaced is
    one read_version away — the operational rollback story Delta
    users get from RESTORE / versionAsOf."""
    from mydatalake_spark.quality.wap import write_audit_publish

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    tests = [{
        "column": "v", "test_type": "outside_of_rules",
        "test_name": "v_not_bad", "kwargs": {"expression": "v <> 'bad'"},
    }]
    b1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    write_audit_publish(cat, "g.s.t", b1, tests, key_cols=["id"])
    b2 = spark.createDataFrame([(1, "z"), (3, "bad")], "id long, v string")
    rep = write_audit_publish(
        cat, "g.s.t", b2, tests, key_cols=["id"],
        min_clean_fraction=0.5, mode="overwrite",
    )
    assert rep.published and rep.rows_quarantined == 1
    # live = audited batch 2 (clean rows only)
    assert sorted(r.v for r in cat.read("g.s.t").collect()) == ["z"]
    # pre-publish production state recoverable at version 1
    assert sorted(
        r.v for r in cat.read_version("g.s.t", version=1).collect()
    ) == ["x", "y"]
    # quarantine captured the failing row with its reason
    q = cat.read("g.s.t_quarantine").collect()
    assert len(q) == 1 and q[0].v == "bad"


def test_snapshot_restore_contract(spark, tmp_path):
    """Delta RESTORE analogue: promote a retained snapshot to live.
    Restore is itself versioned (the replaced state becomes the newest
    snapshot, so restores undo with another restore) and never
    consumes its source version."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=4)
    for v in ("a", "b", "c"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    # live=c; v1=a, v2=b
    cat.restore("g.s.t", version=1)
    assert cat.read("g.s.t").first().v == "a"
    # the replaced "c" became v3; source v1 still addressable
    assert [h["version"] for h in cat.history("g.s.t")] == [1, 2, 3]
    assert cat.read_version("g.s.t", version=3).first().v == "c"
    assert cat.read_version("g.s.t", version=1).first().v == "a"
    # undo the restore with another restore
    cat.restore("g.s.t", steps_back=1)
    assert cat.read("g.s.t").first().v == "c"
    # argument validation
    with pytest.raises(ValueError, match="exactly one"):
        cat.restore("g.s.t")
    with pytest.raises(ValueError, match="not retained"):
        cat.restore("g.s.t", version=99)


def test_vacuum_contract(spark, tmp_path):
    """Delta VACUUM analogue: retire snapshots beyond the retention
    bound and orphaned staging dirs; report true disk reclaim
    (hardlinked files still referenced elsewhere count zero)."""
    import os

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=10)
    for v in ("a", "b", "c", "d"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    assert len(cat.versions("g.s.t")) == 3
    # orphaned staging leftover from a hypothetical crash
    orphan = cat.path("g.s.t") + "__staging"
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "junk.bin"), "wb") as fh:
        fh.write(b"x" * 4096)

    # A fresh staging dir is inside the grace window: vacuum must NOT
    # treat it as an orphan (it could be an in-flight micro-batch on
    # the same table — ADVICE r8).
    freed_graced = cat.vacuum("g.s.t", keep=1)
    assert os.path.isdir(orphan)
    # Backdate it past the window → now it IS an orphan.
    old = __import__("time").time() - 7200
    os.utime(orphan, (old, old))
    os.utime(os.path.join(orphan, "junk.bin"), (old, old))
    freed = freed_graced + cat.vacuum("g.s.t", keep=1)
    assert freed >= 4096                       # junk + two snapshots
    assert [h["version"] for h in cat.history("g.s.t")] == [3]
    assert not os.path.isdir(orphan)
    with pytest.raises(ValueError, match="not retained"):
        cat.read_version("g.s.t", version=1)
    # live table untouched
    assert cat.read("g.s.t").first().v == "d"
    # vacuum(keep=0) clears history entirely, version root included
    assert cat.vacuum("g.s.t", keep=0) > 0
    assert cat.versions("g.s.t") == []
    with pytest.raises(ValueError, match="keep"):
        cat.vacuum("g.s.t", keep=-1)
    # staging_grace_seconds=0 is the force path for known-dead dirs
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "junk2.bin"), "wb") as fh:
        fh.write(b"y" * 1024)
    assert cat.vacuum("g.s.t", staging_grace_seconds=0) >= 1024
    assert not os.path.isdir(orphan)


def test_corrupted_hwm_marker_raises_actionable_error(spark, tmp_path):
    """ADVICE r8: a non-numeric version counter must surface as a
    clear error naming the book file and the repair, not an int()
    ValueError."""
    import json

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    cat.overwrite_via_staging(_kv_batch(spark, "a"), "g.s.t")
    cat.overwrite_via_staging(_kv_batch(spark, "b"), "g.s.t")
    path = cat._book_path("g.s.t")
    with open(path) as fh:
        book = json.load(fh)
    book["commit"]["hwm"] = "garbage\n"
    with open(path, "w") as fh:
        json.dump(book, fh)
    with pytest.raises(RuntimeError, match=r"\.hwm.*corrupted|corrupted"):
        cat.overwrite_via_staging(_kv_batch(spark, "c"), "g.s.t")
    # repair per the error message: write the highest assigned number
    book["commit"]["hwm"] = 1
    with open(path, "w") as fh:
        json.dump(book, fh)
    cat.overwrite_via_staging(_kv_batch(spark, "c"), "g.s.t")
    assert cat.read("g.s.t").first().v == "c"


def test_repinned_restore_source_keeps_history_monotonic(spark, tmp_path):
    """ADVICE r8: when restore() re-pins its source snapshot (the
    source was the oldest at retention capacity), the recreated dir
    must carry the ORIGINAL mtime so history() timestamps stay
    monotonic by version number."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    for v in ("a", "b", "c"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    # retained: v1,v2 at capacity. Restoring v1 snapshots the live
    # state (v3), pruning retires v1 → re-pin path runs.
    import time as _t

    _t.sleep(0.05)
    cat.restore("g.s.t", version=1)
    hist = cat.history("g.s.t")
    labels = [h["version"] for h in hist]
    assert 1 in labels
    times = [h["snapshot_time"] for h in hist]
    assert times == sorted(times), (labels, times)
    assert cat.read("g.s.t").first().v == "a"


def test_restore_hardlinks_never_diverge(spark, tmp_path):
    """A restored live table shares inodes with its source snapshot;
    later overwrites must leave the snapshot byte-identical (write
    paths replace directories, never append in place)."""
    import hashlib
    import os

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=5)
    for v in ("a", "b"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    cat.restore("g.s.t", version=1)            # live hardlinks v1 ("a")

    def digest(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    out[f] = hashlib.md5(fh.read()).hexdigest()
        return out

    vroot = os.path.join(
        cat._version_root("g.s.t"), "v00000001"
    )
    before = digest(vroot)
    cat.overwrite_via_staging(_kv_batch(spark, "z"), "g.s.t")
    cat.overwrite_via_staging(_kv_batch(spark, "w"), "g.s.t")
    assert digest(vroot) == before
    assert cat.read_version("g.s.t", version=1).first().v == "a"


def test_vacuum_never_reuses_version_numbers(spark, tmp_path):
    """After vacuum(keep=0) clears every snapshot, the next overwrite
    must continue the numbering (high-water marker), not restart at
    v1 — a caller-held absolute version must never silently resolve
    to a different state."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    for v in ("a", "b", "c"):
        cat.overwrite(_kv_batch(spark, v), "g.s.t")
    assert [h["version"] for h in cat.history("g.s.t")] == [1, 2]
    cat.vacuum("g.s.t", keep=0)
    assert cat.versions("g.s.t") == []
    cat.overwrite(_kv_batch(spark, "d"), "g.s.t")      # snapshots "c"
    assert [h["version"] for h in cat.history("g.s.t")] == [3]
    with pytest.raises(ValueError, match="not retained"):
        cat.read_version("g.s.t", version=1)           # stays gone
    assert cat.read_version("g.s.t", version=3).first().v == "c"
    # drop() ends the lifecycle: a recreated table restarts at v1
    cat.drop("g.s.t")
    cat.overwrite(_kv_batch(spark, "x"), "g.s.t")
    cat.overwrite(_kv_batch(spark, "y"), "g.s.t")
    assert [h["version"] for h in cat.history("g.s.t")] == [1]


def test_restore_repins_source_at_retention_capacity(spark, tmp_path):
    """Restoring the OLDEST retained version at retention capacity
    must not let the snapshot-and-prune step retire the restore
    source — it is re-pinned and stays addressable."""
    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=2)
    for v in ("a", "b", "c"):
        cat.overwrite_via_staging(_kv_batch(spark, v), "g.s.t")
    # retained: v1(a), v2(b); restoring v1 snapshots "c" as v3 and
    # pruning would retire v1 — the re-pin keeps it
    cat.restore("g.s.t", version=1)
    assert cat.read("g.s.t").first().v == "a"
    assert cat.read_version("g.s.t", version=1).first().v == "a"
    assert cat.read_version("g.s.t", version=3).first().v == "c"


def test_merge_delta_guards_tiebreaker_staging_name(spark):
    """Parity with merge_upsert's staging-name guard: a real __tb__
    column must error loudly, not be consumed by the synthesized
    tiebreaker."""
    rec = {}
    source = spark.createDataFrame(
        [(1, "a", 1)], "id int, `__tb__` string, ts int"
    )
    with pytest.raises(ValueError, match="__tb__"):
        merge_upsert_delta(
            spark, "/nonexistent", source, ["id"], "ts",
            delta_table=_RecordingMerge(rec),
        )


# ------------------------------------------------------------- CLONE


def test_clone_shallow_is_independent_and_hardlinked(spark, tmp_path):
    """Delta SHALLOW CLONE contract: the clone reads identically,
    shares inodes (O(#files) creation, no byte copy), yet is fully
    independent — overwriting the source never changes the clone, and
    the clone starts with no version history of its own."""
    import os

    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), keep_versions=2)
    v1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    v2 = spark.createDataFrame([(1, 99.0)], "k int, v double")
    cat.overwrite_via_staging(v1, "c.s.src")
    cat.clone("c.s.src", "c.s.dst")
    assert sorted(map(tuple, cat.read("c.s.dst").collect())) == [
        (1, 10.0), (2, 20.0),
    ]
    # shared inodes: every parquet file in the clone is a hardlink
    dst_dir = cat.path("c.s.dst")
    parquets = [f for f in os.listdir(dst_dir) if f.endswith(".parquet")]
    assert parquets
    assert all(
        os.stat(os.path.join(dst_dir, f)).st_nlink >= 2 for f in parquets
    )
    # independence: source overwrite leaves the clone untouched
    cat.overwrite_via_staging(v2, "c.s.src")
    assert sorted(map(tuple, cat.read("c.s.dst").collect())) == [
        (1, 10.0), (2, 20.0),
    ]
    # fresh history
    assert cat.versions("c.s.dst") == []
    assert cat.versions("c.s.src") != []


def test_clone_deep_copies_bytes(spark, tmp_path):
    import os

    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, 10.0)], "k int, v double")
    cat.overwrite_via_staging(v1, "c.s.src")
    cat.clone("c.s.src", "c.s.deep", shallow=False)
    dst_dir = cat.path("c.s.deep")
    parquets = [f for f in os.listdir(dst_dir) if f.endswith(".parquet")]
    assert parquets
    assert all(
        os.stat(os.path.join(dst_dir, f)).st_nlink == 1 for f in parquets
    )
    assert sorted(map(tuple, cat.read("c.s.deep").collect())) == [(1, 10.0)]


def test_clone_of_retained_version_and_guards(spark, tmp_path):
    from mydatalake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), keep_versions=2)
    v1 = spark.createDataFrame([(1, 1.0)], "k int, v double")
    v2 = spark.createDataFrame([(1, 2.0)], "k int, v double")
    cat.overwrite_via_staging(v1, "c.s.t")
    cat.overwrite_via_staging(v2, "c.s.t")   # v1 snapshotted
    cat.clone("c.s.t", "c.s.asof", version=1)
    assert [tuple(r) for r in cat.read("c.s.asof").collect()] == [(1, 1.0)]
    with pytest.raises(ValueError, match="already exists"):
        cat.clone("c.s.t", "c.s.asof")
    with pytest.raises(ValueError, match="not retained"):
        cat.clone("c.s.t", "c.s.nope", version=99)
    with pytest.raises(ValueError, match="does not exist"):
        cat.clone("c.s.ghost", "c.s.new")


def test_clone_names_stale_non_table_destination(spark, tmp_path):
    """ADVICE r9: a leftover dir holding only _SUCCESS/dot files passes
    the exists() probe but used to turn the final os.replace into a
    cryptic ENOTEMPTY — clone must name the state and the fix."""
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite(_kv_batch(spark, "a"), "g.s.src")
    husk = cat.path("g.s.dst")
    os.makedirs(husk)
    open(os.path.join(husk, "_SUCCESS"), "w").close()
    assert not cat.exists("g.s.dst")
    with pytest.raises(ValueError, match="no data files"):
        cat.clone("g.s.src", "g.s.dst")
    # after the prescribed fix the clone succeeds
    cat.drop("g.s.dst")
    cat.clone("g.s.src", "g.s.dst")
    assert cat.read("g.s.dst").count() == 2


def test_vacuum_sweeps_orphaned_snapshot_staging(spark, tmp_path):
    """A crashed snapshot() leaves .snap_staging in the version root;
    vacuum treats it like the other staging orphans (grace window,
    then reclaim)."""
    import os
    import shutil

    cat = Catalog(spark, str(tmp_path / "wh"), keep_versions=3)
    cat.overwrite(_kv_batch(spark, "a"), "g.s.t")
    cat.snapshot("g.s.t")
    # simulate a crash mid-snapshot: hardlink staging left behind
    root = cat._version_root("g.s.t")
    husk = os.path.join(root, ".snap_staging")
    shutil.copytree(cat.path("g.s.t"), husk, copy_function=os.link)
    # inside the grace window: kept
    cat.vacuum("g.s.t")
    assert os.path.isdir(husk)
    # grace expired: swept, and versions()/reads unaffected
    cat.vacuum("g.s.t", staging_grace_seconds=0)
    assert not os.path.isdir(husk)
    assert cat.versions("g.s.t") == ["v00000001"]
    assert cat.read_version("g.s.t", version=1).count() == 2
