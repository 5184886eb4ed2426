"""Metadata-driven ingestion engine: full overwrite + CDC upsert.

Reference parity: ``Ingestor`` (load → optional SQL transform → full
overwrite saveAsTable, reference lib/ingestors.py:9-105) and
``IngestorCDC`` (load → transform → keyed ts-guarded MERGE, reference
lib/ingestors.py:108-137). Table metadata (schema, keys, cdc column)
comes from per-table YAML; the transform is a per-table SQL file
discovered by convention ``{root}/{table}/{table}.sql``
(reference lib/ingestors.py:16-24) that reads the loaded data through a
temp view ``view_{table}`` (reference lib/ingestors.py:81,118).

Scale deltas vs the reference (SURVEY.md §7.4(8)):
- sinks accept ``partition_by`` (the reference writes unpartitioned,
  reference lib/ingestors.py:92-96 — untenable at 100 TB);
- MERGE is the corrected join-based latest-wins upsert
  (operators/merge.py) rather than Delta MERGE with the ts-guard in
  the ON clause.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog
from .plans.qualify import run_sql
from .schema import TableMeta, load_table_meta
from .sources.readers import read_source
from .operators.merge import merge_upsert, merge_upsert_bloomed


@dataclass
class Ingestor:
    """Full-load ingestor (reference lib/ingestors.py:9-105).

    ``metadata_root`` holds ``{table}/{table}.yml`` and optional
    ``{table}/{table}.sql`` (reference layout). ``input_format``:
    json/parquet/csv = file scan with declared schema; ``table`` =
    the transform SQL reads existing catalog tables directly
    (the reference's ``delta`` branch, reference lib/ingestors.py:82-85).
    """

    spark: SparkSession
    catalog: Catalog
    metadata_root: str
    table: str
    input_format: str = "json"
    input_path: str | None = None
    partition_by: list[str] = field(default_factory=list)
    # Namespace overrides from job metadata (the reference passes
    # catalog/schema as notebook args per table,
    # reference bronze/job_metadata.yml:6-8 + job.ipynb cell 3).
    catalog_name: str | None = None
    schema_name: str | None = None

    def __post_init__(self) -> None:
        self.meta: TableMeta = load_table_meta(
            os.path.join(self.metadata_root, self.table, f"{self.table}.yml")
        )
        if self.catalog_name:
            self.meta.catalog = self.catalog_name
        if self.schema_name:
            self.meta.schema = self.schema_name
        sql_path = os.path.join(
            self.metadata_root, self.table, f"{self.table}.sql"
        )
        self.transform_sql: str | None = None
        if os.path.exists(sql_path):
            with open(sql_path) as fh:
                self.transform_sql = fh.read()
        # Declarative sink partitioning: constructor arg wins, else the
        # table YAML's partition_by (metadata-driven, like everything
        # else about the table).
        if not self.partition_by:
            self.partition_by = self.meta.partition_by

    # -- load ---------------------------------------------------------
    def load(self) -> DataFrame:
        """Scan + stamp + temp-view handoff + optional SQL transform
        (reference lib/ingestors.py:75-88)."""
        if self.input_format == "table":
            # The reference's 'delta' branch: the transform SQL reads
            # existing catalog tables directly (reference
            # lib/ingestors.py:82-85). Register warehouse tables and
            # shim their three-part names into flat view names.
            if not self.transform_sql:
                raise ValueError("'table' input requires a transform SQL")
            mapping = self.catalog.register_referenced(
                self.transform_sql
            )
            return run_sql(self.spark, self.transform_sql, table_mapping=mapping)
        df = read_source(
            self.spark,
            self.input_format,
            path=self.input_path,
            schema=self.meta.spark_schema,
        )
        df.createOrReplaceTempView(f"view_{self.meta.table}")
        if self.transform_sql:
            df = run_sql(self.spark, self.transform_sql)
        return df

    # -- save ---------------------------------------------------------
    def save(self, df: DataFrame) -> None:
        """Full overwrite sink (reference lib/ingestors.py:90-99),
        partitioned when configured."""
        self.catalog.overwrite(
            df, self.meta.full_name, partition_by=self.partition_by or None
        )

    def _sync_declared_constraints(self) -> None:
        """Reconcile the catalog's CHECK constraints to the table
        YAML's ``constraints:`` block (Catalog.sync_constraints — the
        YAML is the source of truth). Called BEFORE a run when the
        table already exists, so this run's write is enforced in-plan,
        and AFTER it, so a first run's data is validated and the
        contract attaches for every later writer.

        A YAML with no ``constraints:`` key at all takes NO position
        on constraints — sync only when the key is present. Otherwise
        a constraint added out-of-band (``ALTER TABLE ADD CONSTRAINT``
        / ``add_constraint``) would be silently dropped by the next
        ingest run of a YAML that never mentioned constraints. An
        explicitly EMPTY ``constraints: {}`` block does reconcile (it
        declares "this table has none") and drops the catalog's set."""
        name = self.meta.full_name
        if self.catalog.exists(name):
            if "constraints" in self.meta.raw:
                desired = self.meta.constraints
                if desired or self.catalog.constraints(name):
                    self.catalog.sync_constraints(name, desired)
            if "generated" in self.meta.raw:
                # same desired-state reconciliation for generated
                # columns: declared-and-missing attaches (backfilling
                # if the column is new), declared-and-changed
                # re-declares, catalog-only declarations drop; an
                # absent block takes no position
                desired_gen = self.meta.generated
                current = self.catalog.generated_columns(name)
                for col in sorted(set(current) - set(desired_gen)):
                    self.catalog.drop_generated_column(name, col)
                for col in sorted(desired_gen):
                    if current.get(col) != desired_gen[col]:
                        self.catalog.set_generated_column(
                            name, col, desired_gen[col]
                        )

    def run(self) -> None:
        from .logging_utils import log_duration

        with log_duration("ingest_full", table=self.meta.full_name):
            self._sync_declared_constraints()
            self.save(self.load())
            self._sync_declared_constraints()


@dataclass
class IngestorAppend(Ingestor):
    """Append-only ingestor. **[extension]** The load path for
    key-less event/log feeds where rows are immutable facts: there are
    no keys to merge on (IngestorCDC's contract) and no reason to
    rewrite the accumulated table (Ingestor's full overwrite). Each
    run stamps + transforms the batch exactly like ``Ingestor.load``
    and file-move-appends it (``Catalog.append``): cost is O(new
    files), never O(table) — the write shape a daily event load needs
    at 100 TB.

    Replay: WITHOUT ``txn_id``, re-running the same input doubles
    rows (appends carry no row identity) — feeds that can replay need
    IngestorCDC (key-based, replay converges) or IngestorStreaming
    (checkpoint remembers consumed files). WITH ``txn_id`` (e.g. the
    batch date or the input file's identity), ``Catalog.append``'s
    token protocol makes the run EXACTLY-ONCE: a recorded token
    no-ops, a crashed attempt's partial files are cleaned up before
    the retry re-moves the batch."""

    txn_id: str | None = None

    def run(self) -> None:
        from .logging_utils import log_duration

        with log_duration("ingest_append", table=self.meta.full_name):
            self._sync_declared_constraints()
            self.catalog.append(
                self.load(),
                self.meta.full_name,
                partition_by=self.partition_by or None,
                txn_id=self.txn_id,
            )
            self._sync_declared_constraints()


@dataclass
class IngestorCDC(Ingestor):
    """CDC ingestor: key + ts-ordered upsert (reference lib/ingestors.py:108-137).

    Keys and the ordering column come from column annotations
    ``key: true`` / ``date_predicate: true``
    (reference lib/ingestors.py:35-39).

    ``merge_strategy`` (declared per table in job metadata, jobs.py):

    - ``"join"`` (default): full-outer join merge — every accumulated
      target row shuffles (operators/merge.py:merge_upsert);
    - ``"bloom"``: bloom-accelerated merge — the changeset's keys fold
      into a driver-held word list, and target rows that provably
      cannot match bypass the merge shuffle entirely
      (merge_upsert_bloomed). The 100 TB choice when the daily
      changeset ≪ the accumulated table. Results are identical.
    - ``"partitioned"`` / ``"partitioned_bloom"`` (r8): partition-
      scoped merge — only the partitions the changeset touches are
      read and rewritten (merge_upsert_partitioned; the untouched
      tail of the table is untouched on disk, unlike join/bloom which
      rewrite the whole table through the staging swap). Requires
      ≥1 ``partition_by`` columns, every one a merge key; a multi-
      column list partitions hierarchically (date, region) and prunes
      on the touched tuples at every directory level.
      ``partitioned_bloom`` additionally bloom-prunes rows inside the
      touched slice — both pruning levels of the 100 TB CDC story,
      from metadata alone.
    """

    merge_strategy: str = "join"

    def __post_init__(self) -> None:
        super().__post_init__()
        strategies = ("join", "bloom", "partitioned", "partitioned_bloom")
        if self.merge_strategy not in strategies:
            raise ValueError(
                f"{self.table}: merge_strategy must be one of "
                f"{strategies}, got {self.merge_strategy!r}"
            )
        if self.merge_strategy.startswith("partitioned"):
            if not self.partition_by:
                raise ValueError(
                    f"{self.table}: merge_strategy="
                    f"{self.merge_strategy!r} needs at least one "
                    f"partition_by column, got {self.partition_by!r}"
                )
            non_keys = [
                c
                for c in self.partition_by
                if c not in self.meta.key_columns
            ]
            if non_keys:
                raise ValueError(
                    f"{self.table}: partition-scoped merge requires "
                    f"every partition column to be a merge key; "
                    f"{non_keys!r} are not "
                    f"(keys={self.meta.key_columns}) — otherwise a "
                    "key's row could move between partitions and "
                    "duplicate"
                )

    def upsert(self, df: DataFrame) -> None:
        from .operators.merge import merge_upsert_partitioned

        keys = self.meta.key_columns
        ts = self.meta.cdc_timestamp_column
        if not keys:
            raise ValueError(f"{self.meta.full_name}: CDC requires key columns")
        if self.merge_strategy.startswith("partitioned"):
            # handles first-write creation internally (partitioned);
            # a multi-column partition_by prunes hierarchically
            merge_upsert_partitioned(
                self.catalog,
                self.meta.full_name,
                df,
                keys,
                self.partition_by,
                ts,
                bloom=self.merge_strategy == "partitioned_bloom",
            )
            return
        if not self.catalog.exists(self.meta.full_name):
            # First write: plain overwrite (reference guards similarly
            # at lib/checker_handler.py:173 for the history table).
            self.save(df)
            return
        target = self.catalog.read(self.meta.full_name)
        merge_fn = (
            merge_upsert_bloomed
            if self.merge_strategy == "bloom"
            else merge_upsert
        )
        merged = merge_fn(target, df.select(*target.columns), keys, ts)
        self.catalog.overwrite_via_staging(
            merged, self.meta.full_name, partition_by=self.partition_by or None
        )
        # free any derived-changeset cache the bloom path adopted
        from . import caching

        caching.release(merged)

    def run(self) -> None:
        from .logging_utils import log_duration

        with log_duration("ingest_cdc", table=self.meta.full_name):
            self._sync_declared_constraints()
            self.upsert(self.load())
            self._sync_declared_constraints()


@dataclass
class IngestorStreaming(IngestorCDC):
    """Streaming CDC ingestor: the raw-zone directory as a file-source
    stream, each micro-batch run through the same stamp → temp-view →
    transform-SQL pipeline as a batch load, then CDC-merged into the
    catalog table.

    [extension] The reference re-runs its CDC notebook on a schedule;
    this is the same declared metadata driven by Structured Streaming
    instead — new raw files become micro-batches, the checkpoint
    remembers which files were consumed, and ``trigger(availableNow)``
    drains everything pending and stops (the scheduled-drain pattern;
    drop ``available_now`` for a continuously running ingest).

    Effectively-once without sink transactions: foreachBatch is
    at-least-once under retries, but the key+ts merge-upsert is
    IDEMPOTENT under batch replay (re-merging the same rows is a
    semantic no-op), so replays converge — unlike order- or
    count-sensitive sinks, which need the checkpoint-gated contract
    (streaming/events.py:stream_into_view).
    """

    checkpoint_dir: str | None = None
    available_now: bool = True

    def _fold(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        df = batch_df
        if "loaded_at" not in df.columns:
            from pyspark.sql import functions as F

            df = df.withColumn("loaded_at", F.current_timestamp())
        # foreachBatch hands the batch to a micro-batch-cloned
        # SparkSession; the temp view lives THERE, so the transform
        # must run on the batch's session, not the outer one.
        df.createOrReplaceTempView(f"view_{self.meta.table}")
        if self.transform_sql:
            df = run_sql(df.sparkSession, self.transform_sql)
        self.upsert(df)
        # per-batch reconcile so a CONTINUOUS stream (available_now=
        # False) attaches declared constraints as soon as the first
        # micro-batch creates the table — the post-termination sync
        # below is only reached in drain mode. Steady state is one
        # metadata-file read per batch (sync_constraints no-op path).
        self._sync_declared_constraints()

    def run(self) -> None:
        from .logging_utils import log_duration

        if self.input_format != "json":
            raise ValueError(
                "streaming ingest currently reads json raw zones"
            )
        if not self.input_path:
            raise ValueError("streaming ingest requires input_path")
        ckpt = self.checkpoint_dir or os.path.join(
            self.catalog.warehouse, "_checkpoints", self.meta.full_name
        )
        with log_duration("ingest_streaming", table=self.meta.full_name):
            stream = (
                self.spark.readStream.schema(self.meta.spark_schema)
                .json(self.input_path)
            )
            writer = (
                stream.writeStream.foreachBatch(self._fold)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
            )
            if self.available_now:
                writer = writer.trigger(availableNow=True)
            self._sync_declared_constraints()
            q = writer.start()
            if self.available_now:
                q.awaitTermination()
                self._sync_declared_constraints()


def copy_into(
    catalog: Catalog,
    full_name: str,
    src_path: str,
    file_format: str = "json",
    abandon_pending: bool = False,
) -> int:
    """Databricks ``COPY INTO`` analogue: file-level idempotent batch
    load into an EXISTING catalog table. Returns rows loaded (0 when
    every file was already loaded). **[extension]**

    ``COPY INTO``'s contract is per-FILE exactly-once: each run lists
    ``src_path`` (a directory or glob), loads only files never loaded
    before, and remembers them — re-running after new files land
    loads just the new ones; re-running with nothing new is a no-op.
    Like Databricks, a file is identified by its path: a file
    MODIFIED after being loaded is still skipped (feeds that rewrite
    files in place need the CDC merge, not COPY INTO).

    Crash safety composes with :meth:`Catalog.append`'s txn protocol
    instead of reinventing it: the batch's ``txn_id`` is a digest of
    the sorted new-file identities, PINNED in a pending record
    (``.copy_into.pending.json``) written before the append — a run
    that crashed between the append and the file-book update replays
    that EXACT (txn, file list) first, even if new files have landed
    since (ADVICE r11: re-digesting the now-larger new-file set would
    mint a different txn and append the crashed batch's files twice).
    A replayed txn the append book already committed skips straight
    to the bookkeeping. The book (``.copy_into.json``) lives in the
    version root beside the append txn book.

    At 100 TB: listing is one os.walk (metadata); only new files'
    bytes are ever read; the append is O(new files) moves. A daily
    drop of 200 files into a 2M-file history costs the 200.
    """
    import glob as _glob
    import hashlib
    import json as _json

    if not catalog.exists(full_name):
        raise ValueError(
            f"COPY INTO: table {full_name} does not exist — create it "
            "first (CTAS or Catalog.overwrite); COPY INTO loads into "
            "existing tables"
        )
    def _walk_files(d: str) -> list[str]:
        return [
            os.path.join(dp, f)
            for dp, _dirs, fs in os.walk(d)
            for f in fs
            if not f.startswith((".", "_"))
        ]

    # glob matches can themselves be DIRECTORIES (e.g. 'landing/*'
    # matching a dated subdir) — expand those through the same walk,
    # otherwise the directory PATH enters the book and files added
    # inside it later are skipped forever (ADVICE r11).
    cands: list[str] = []
    for pat in [src_path] if not isinstance(src_path, list) else src_path:
        if any(ch in pat for ch in "*?["):
            cands.extend(_glob.glob(pat))
        else:
            cands.append(pat)
    paths = sorted(
        {
            f
            for p in cands
            for f in (_walk_files(p) if os.path.isdir(p) else [p])
        }
    )
    vroot = catalog._version_root(full_name)
    book_path = os.path.join(vroot, ".copy_into.json")
    pending_path = os.path.join(vroot, ".copy_into.pending.json")
    book = {}
    if os.path.exists(book_path):
        with open(book_path) as fh:
            book = _json.load(fh)

    from .catalog import detect_partition_cols, write_json

    def _apply_batch(stamp: dict, txn: str) -> int:
        """Append one pinned (file set, txn) batch exactly once, then
        commit the file book and clear the pending record. ``stamp``
        maps abspath -> [size] (sizes captured when the batch was
        pinned, so a replay never re-stats possibly-gone files)."""
        if catalog._append_txn_seen(full_name, txn):
            n = 0  # the crashed run's append committed; finish books
        else:
            missing = sorted(p for p in stamp if not os.path.exists(p))
            if missing:
                raise ValueError(
                    f"COPY INTO {full_name}: pending batch {txn} "
                    f"references file(s) no longer present and its "
                    f"append never committed — cannot replay "
                    f"{missing[:3]}{'...' if len(missing) > 3 else ''}; "
                    f"restore the files or delete {pending_path} to "
                    "abandon the batch"
                )
            live = catalog.read(full_name)
            from .sources.readers import _FILE_FORMATS

            spark_fmt = _FILE_FORMATS.get(
                file_format.lower(), file_format
            )
            reader = catalog.spark.read.format(spark_fmt)
            if spark_fmt not in ("parquet", "orc", "binaryFile"):
                # text formats carry no schema — the table's is the
                # contract (Databricks COPY INTO reads with the target
                # table's schema); self-describing/fixed-schema
                # formats (parquet, orc, binaryFile) keep their own
                reader = reader.schema(live.schema)
            df = reader.load(sorted(stamp)).select(*live.columns)
            pcols = detect_partition_cols(catalog.path(full_name))
            n = catalog.append(
                df, full_name, partition_by=pcols, txn_id=txn
            )
        book.update(stamp)
        write_json(book_path, book)
        if os.path.exists(pending_path):
            os.remove(pending_path)
        return n

    loaded = 0
    if os.path.exists(pending_path):
        if abandon_pending:
            # Explicit operator decision: skip the poisoned batch. Its
            # files stay OUT of the book, so a later run retries them
            # as a fresh batch (new txn) once the cause is fixed.
            # The crashed attempt may have MOVED part of the batch
            # into the live tree (txn-prefixed files, token never
            # recorded) — sweep those first: the retry mints a
            # DIFFERENT txn id over the post-fix file set, so append's
            # own same-txn cleanup would never fire and the partial
            # rows would double once the sources reload.
            with open(pending_path) as fh:
                pend = _json.load(fh)
            if catalog._append_txn_seen(full_name, pend["txn"]):
                # ADVICE r13: the crashed run's append COMMITTED (its
                # token is recorded) — only the book update was lost.
                # There is nothing to abandon: sweeping the
                # txn-prefixed files here would delete committed rows,
                # and the retry's deterministic md5 over the same file
                # set re-mints this exact txn, which the token book
                # then no-ops — silent data loss. Finish the
                # bookkeeping instead.
                loaded += _apply_batch(pend["files"], pend["txn"])
            else:
                catalog._cleanup_append_txn(full_name, pend["txn"])
                os.remove(pending_path)
        else:
            with open(pending_path) as fh:
                pend = _json.load(fh)
            # replay the crashed batch under ITS txn id before looking
            # at the current directory state
            try:
                loaded += _apply_batch(pend["files"], pend["txn"])
            except ValueError:
                raise  # already carries the abandon hint
            except Exception as e:
                # ADVICE r12: ANY replay failure (schema-incompatible
                # landed file, unreadable bytes, ...) must surface the
                # recovery path — otherwise the pending record wedges
                # every future copy_into on this table.
                raise RuntimeError(
                    f"COPY INTO {full_name}: replay of pending batch "
                    f"{pend['txn']} failed ({e}); fix the cause and "
                    f"re-run, or abandon the batch by deleting "
                    f"{pending_path} (or copy_into(..., "
                    "abandon_pending=True))"
                ) from e

    new = [p for p in paths if os.path.abspath(p) not in book]
    if not new:
        return loaded
    txn = "copyinto-" + hashlib.md5(
        "\n".join(os.path.abspath(p) for p in new).encode()
    ).hexdigest()[:16]
    stamp = {os.path.abspath(p): [os.path.getsize(p)] for p in new}
    write_json(pending_path, {"txn": txn, "files": stamp})
    return loaded + _apply_batch(stamp, txn)
