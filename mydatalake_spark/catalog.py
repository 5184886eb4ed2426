"""Three-part table namespace over a local/file warehouse.

Reference parity: tables live at ``{catalog}.{schema}.{table}``
(reference lib/ingestors.py:95,114) backed by Databricks Unity
Catalog. OSS single-session Spark has a two-part namespace, so we map
``catalog.schema.table`` ↔ a warehouse path
``{warehouse}/{catalog}/{schema}/{table}`` and register temp views /
path-based tables on demand. Existence probe mirrors
``spark.catalog.tableExists`` usage (reference lib/checker_handler.py:173).

At 100 TB the warehouse root is object storage (s3a://…) and every
managed table is written partitioned (see sources/writers.py); the
path convention is identical.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def delta_available() -> bool:
    """True when the ``delta-spark`` package is importable. The Delta
    code paths (ACID overwrite, DeltaTable MERGE — reference
    lib/ingestors.py:92-96,113-126) are capability-gated on this so the
    same code runs on parquet-only and Delta-enabled clusters."""
    return importlib.util.find_spec("delta") is not None


def partition_predicate(pcols: list[str], values: list):
    """Exact partition-membership predicate over one or more
    partition columns.

    Single column → ``col IN (values)`` (the fast path Catalyst turns
    into an In partition filter). Multiple columns → an
    OR-of-conjunctions over the touched tuples: file-source partition
    pruning evaluates arbitrary deterministic predicates over the
    partition columns against the partition catalog, so every
    untouched leaf directory is pruned from the scan — the touched
    list is driver-bounded (merge's ``max_partitions`` probe), so the
    expression stays small.

    Values must not contain NULLs: ``IN``/``=`` never match NULL, so a
    null-partition row would silently vanish from both the read slice
    and the rewrite (ADVICE r8) — callers guard before building this.
    """
    from pyspark.sql import functions as F

    if len(pcols) == 1:
        vals = [
            v[0] if isinstance(v, (tuple, list)) else v for v in values
        ]
        return F.col(pcols[0]).isin(vals)
    pred = None
    for tup in values:
        conj = None
        for c, v in zip(pcols, tup):
            eq = F.col(c) == F.lit(v)
            conj = eq if conj is None else (conj & eq)
        pred = conj if pred is None else (pred | conj)
    return pred


def _check_no_null_partition_values(pcols: list[str], values: list) -> None:
    """Fail fast on NULL partition values (ADVICE r8): equality/IN
    predicates drop them silently, so rows would vanish without
    error."""
    for v in values:
        tup = v if isinstance(v, (tuple, list)) else (v,)
        if any(m is None for m in tup):
            raise ValueError(
                f"partition columns {pcols} contain NULL values in the "
                f"changeset (e.g. {tuple(tup)!r}); partition-scoped "
                "writes cannot address a null partition — clean or "
                "default the partition column upstream."
            )


def _leaf_partition_files(root: str, pcols: list[str]) -> dict:
    """Map each hive-layout leaf partition under ``root`` to the
    metadata of its data files: ``{(v1, .., vk): frozenset((relpath,
    size, mtime_ns, inode), ...)}``. Values are the DIRNAME strings
    (Spark's own encoding, URL-unescaped) — exactly what a membership
    predicate over the partition columns must match. Pure directory
    metadata: no data file is ever opened."""
    from urllib.parse import unquote

    out: dict = {}

    def walk(d: str, depth: int, vals: tuple) -> None:
        if depth == len(pcols):
            files = []
            for dirpath, _dirs, fnames in os.walk(d):
                for f in fnames:
                    if f.startswith((".", "_")):
                        continue  # _SUCCESS, checksums, markers
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    files.append(
                        (
                            os.path.relpath(p, d),
                            st.st_size,
                            st.st_mtime_ns,
                            st.st_ino,
                        )
                    )
            out[vals] = frozenset(files)
            return
        prefix = f"{pcols[depth]}="
        for entry in sorted(os.listdir(d)):
            if not entry.startswith(prefix):
                continue
            val = unquote(entry[len(prefix):])
            if val == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    f"partition column {pcols[depth]} has a NULL "
                    f"partition under {root} — membership predicates "
                    "cannot address it (same contract as the "
                    "partition-scoped merge); clean the partition "
                    "column upstream"
                )
            walk(os.path.join(d, entry), depth + 1, vals + (val,))

    if os.path.isdir(root):
        walk(root, 0, ())
    return out


def _touched_partitions(
    old_dir: str, new_dir: str, pcols: list[str]
) -> list[tuple]:
    """Leaf partitions that can possibly differ between two snapshot
    directories: present on only one side, or with differing data-file
    metadata ((name, size, mtime, inode) sets). Equal sets PROVE the
    leaf unchanged in this catalog — snapshots/clones are created by
    rename or hardlink, so a carried-through leaf keeps its exact
    inodes — which is what lets a diff prune it without reading a
    byte. Snapshots taken via full staging rewrites share no files, so
    every leaf reports touched and the diff gracefully degrades to the
    full join (correct, just unpruned): pair snapshot() with
    partition-scoped writes to get the pruning."""
    old_leaves = _leaf_partition_files(old_dir, pcols)
    new_leaves = _leaf_partition_files(new_dir, pcols)
    touched = [
        vals
        for vals in sorted(set(old_leaves) | set(new_leaves))
        if old_leaves.get(vals) != new_leaves.get(vals)
    ]
    return touched


def _raw_leaf_dirs(root: str, pcols: list[str]) -> set[str]:
    """Relative paths of every hive-layout LEAF partition directory
    under ``root``, in Spark's own dirname encoding (``date=2024-01-02/
    region=EU``). Staying in dirname space is the point: comparing two
    Spark-written trees never re-implements Spark's value→dirname
    escaping (which _leaf_partition_files must unquote for predicate
    values — here we need the opposite direction, so we never decode)."""
    out: set[str] = set()

    def walk(d: str, depth: int, rel: str) -> None:
        if depth == len(pcols):
            out.add(rel)
            return
        prefix = f"{pcols[depth]}="
        if not os.path.isdir(d):
            return
        for entry in os.listdir(d):
            if entry.startswith(prefix):
                walk(
                    os.path.join(d, entry),
                    depth + 1,
                    os.path.join(rel, entry) if rel else entry,
                )

    walk(root, 0, "")
    return out


#: Reserved table-directory suffixes for in-flight write staging
#: (Catalog._stage: overwrites, appends, partition rewrites, DML).
#: vacuum() treats orphans with these suffixes as reclaimable, and
#: list_tables() never reports them as tables — a crashed write's husk
#: must not surface as a phantom catalog entry.
_STAGING_SUFFIXES = (
    "__staging",
    "__pstaging",
    "__appstaging",
    "__dmlstaging",
    "__dmltouched",
)


_PARTDIR_RE = None  # compiled lazily below


def data_files(path: str) -> list[str]:
    """Every data file under ``path`` (os.walk; names starting with
    '.' or '_' skipped — Spark's own scan-ignore rule), sorted. The
    clustered-file book, the footer probes, and the size listings
    enumerate through it so the data-file rule cannot drift between
    them. (Walks with a DIFFERENT purpose — vacuum's nlink weighing,
    commit-time scans — keep their own loops.)"""
    out = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def detect_partition_cols(path: str) -> list[str] | None:
    """Infer a table's hive partition-column chain from its directory
    tree: descend while every data-bearing entry at a level is a
    ``col=`` directory with one consistent column name. Pure directory
    metadata — no file is opened. None for unpartitioned tables. Used
    by the SQL DML front-end (plans/table_sql.py) and by append() so
    callers get the partition-aware path without declaring the layout
    they already wrote."""
    import re

    global _PARTDIR_RE
    if _PARTDIR_RE is None:
        _PARTDIR_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)=")
    cols: list[str] = []
    d = path
    while True:
        if not os.path.isdir(d):
            break
        entries = [
            e for e in os.listdir(d) if not e.startswith((".", "_"))
        ]
        if not entries:
            break
        names = set()
        stop = False
        for e in entries:
            m = _PARTDIR_RE.match(e)
            if not m or not os.path.isdir(os.path.join(d, e)):
                stop = True  # a data file: the chain ends above it
                break
            names.add(m.group(1))
        if stop or len(names) != 1:
            break
        cols.append(names.pop())
        d = os.path.join(d, entries[0])
    return cols or None


def write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON through a tmp file and a
    rename, so a reader sees the old or the new content, never a torn
    write. The one metadata writer for the table books, ANALYZE
    statistics, the stored-view book and COPY INTO's file books."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)


def split_name(full_name: str) -> tuple[str, str, str]:
    """``catalog.schema.table`` → parts; shorter names get defaults."""
    parts = full_name.split(".")
    if len(parts) == 3:
        return parts[0], parts[1], parts[2]
    if len(parts) == 2:
        return "default", parts[0], parts[1]
    if len(parts) == 1:
        return "default", "default", parts[0]
    raise ValueError(f"bad table name: {full_name!r}")


#: Sentinel: "capture the commit token at publish entry" — the default
#: OCC window covers the staging materialization (the long part); pass
#: a token from Catalog.commit_token for a plan-time capture, or False
#: to disable the check (single-writer maintenance internals).
_AUTO_TOKEN = object()

#: Sentinel: a book update that keeps the recorded schema as it is.
_KEEP = object()


class ConcurrentWriteException(RuntimeError):
    """Two writers raced a publish to the same table (Delta's
    ``ConcurrentModificationException`` analogue — VERDICT r13 ask #3).
    The first committer wins; the second sees the live commit token
    move between its plan capture and its swap and must re-plan
    against the new state instead of silently clobbering it."""

    def __init__(self, full_name: str, expected, found):
        super().__init__(
            f"concurrent write to {full_name}: this writer planned "
            f"against commit {expected!r} but another writer published "
            f"commit {found!r} first — re-read the table and retry "
            "(optimistic concurrency; nothing was overwritten)"
        )
        self.full_name = full_name
        self.expected = expected
        self.found = found


@dataclass
class Catalog:
    """Path-convention catalog with overwrite/read/exists/drop.

    Storage format defaults to parquet; ``fmt="delta"`` flips every
    read/write to Delta Lake (reference lib/ingestors.py:92-96) and is
    capability-gated: requesting it without ``delta-spark`` importable
    fails fast with a clear error instead of a mid-job
    ClassNotFoundException. On Delta, overwrites are transactional so
    the staging-swap fallback is skipped (see overwrite_via_staging).
    """

    spark: SparkSession
    warehouse: str
    fmt: str = "parquet"
    # Poor-man's time travel on parquet: keep the last N table states
    # as hidden sibling snapshot dirs (Delta gets this from its log;
    # the reference relies on that). 0 = off. The one place versioning
    # is decided: every commit (_publish) retains its pre-state — a
    # directory RENAME for a whole-table swap, HARDLINKS for a leaf
    # swap or an append (O(#files) metadata, never a byte copy;
    # untouched leaves share inodes, which is what lets
    # table_changes' partition-pruned diff PROVE them untouched).
    keep_versions: int = 0
    # Commit clock: () -> epoch seconds, stamped on every committed
    # write (_invalidate). Default None = wall clock (time.time).
    # Injectable so TIMESTAMP AS OF contracts can be exercised with a
    # deterministic strictly-increasing clock instead of real sleeps
    # between commits (r15 — removed the two 0.05 s sleeps from the
    # cdf_timestamp query path and de-flaked its resolution contract:
    # wall-clock stamps taken microseconds apart were only *probably*
    # distinct; injected stamps are distinct by construction).
    clock: "object | None" = None

    def __post_init__(self) -> None:
        if self.fmt == "delta" and not delta_available():
            raise ImportError(
                "Catalog(fmt='delta') requires the delta-spark package; "
                "it is not importable in this environment. Install "
                "delta-spark (and configure the Spark session with the "
                "Delta extensions) or use the default parquet format."
            )

    def path(self, full_name: str) -> str:
        cat, sch, tbl = split_name(full_name)
        return os.path.join(self.warehouse, cat, sch, tbl)

    def exists(self, full_name: str) -> bool:
        p = self.path(full_name)
        if not os.path.isdir(p):
            return False
        # A parquet dir with only _SUCCESS markers is not a table,
        # unless the catalog committed it: a 0-row partitioned write
        # leaves no data file, only its schema in the book.
        return any(
            not f.startswith(".") and f != "_SUCCESS" for f in os.listdir(p)
        ) or self._committed_schema(full_name) is not None

    def read(self, full_name: str) -> DataFrame:
        """The live table. A parquet table committed by this catalog
        loads with the data-column schema its last commit recorded in
        the book (:meth:`_committed_schema`), so no Spark job infers it
        from a footer; partition columns are discovered from the
        directory names as before, with the types Spark infers from
        them. A table with no recorded schema (written before the
        book carried one, or by a writer outside the catalog) and any
        Delta table load as Spark infers them."""
        return self._load(
            self.path(full_name), self._committed_schema(full_name)
        )

    def _load(self, path: str, schema) -> DataFrame:
        reader = self.spark.read.format(self.fmt)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(path)

    def _committed_schema(self, full_name: str, label: str | None = None):
        """The data-column schema recorded for the live state (or the
        retained version ``label``) as a ``StructType``, or None when
        the book holds none or the record does not describe the
        directory: each record carries the inode of the directory it
        was committed for, so a directory replaced behind the book —
        a crash between a swap and its book update, a writer outside
        the catalog — is read by inference instead of through a stale
        schema."""
        from pyspark.sql.types import StructType

        if self.fmt == "delta":  # the Delta log holds the schema
            return None
        c = self._book(full_name).get("commit", {})
        if label is None:
            rec, d = c.get("schema"), self.path(full_name)
        else:
            rec = c.get("version_schemas", {}).get(label)
            d = os.path.join(self._version_root(full_name), label)
        try:
            if rec is None or os.stat(d).st_ino != rec["ino"]:
                return None
        except OSError:
            return None
        return StructType.fromJson(json.loads(rec["json"]))

    @staticmethod
    def _schema_record(path: str, schema) -> dict:
        """Book record of a directory's data-column schema: the
        ``StructType`` JSON of ``schema`` without the partition columns
        the directory's hive layout holds — Spark discovers those, with
        the types it infers from the directory names — and the
        directory's inode. A partitioned directory with no leaf (a
        0-row write) keeps the partition columns with their written
        types."""
        from pyspark.sql.types import StructType

        pcols = set(detect_partition_cols(path) or ())
        data = StructType([f for f in schema.fields if f.name not in pcols])
        return {"ino": os.stat(path).st_ino, "json": data.json()}

    # -- time travel ---------------------------------------------------

    def _version_root(self, full_name: str) -> str:
        p = self.path(full_name)
        return os.path.join(
            os.path.dirname(p), f".{os.path.basename(p)}__versions"
        )

    def _book_path(self, full_name: str) -> str:
        return os.path.join(self._version_root(full_name), ".book.json")

    def _book(self, full_name: str) -> dict:
        """The table's metadata book (``{}`` before its first write):

        - ``commit``: ``time`` (the live state's commit time), ``hwm``
          (highest version number ever assigned), ``snapshots``
          (``{label: commit time}`` of retained versions),
          ``append_txns`` (``{txn id: rows}``), ``schema`` (the live
          state's data-column schema, see :meth:`_schema_record`) and
          ``version_schemas`` (``{label: schema record}`` of retained
          versions, each kept from the commit that wrote it);
        - ``definition``: what CREATE OR REPLACE discards — see
          :meth:`definition`.

        It lives in the version root, so it moves with RENAME and
        survives VACUUM; DROP removes it."""
        p = self._book_path(full_name)
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _locked(self, full_name: str, lock_name: str):
        """Exclusive ``flock`` on a lock file in the version root.
        Released by the OS when the holder dies, so a crashed writer
        never wedges the table. flock does not nest within a process:
        a holder never takes the same lock again."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def _lock():
            root = self._version_root(full_name)
            os.makedirs(root, exist_ok=True)
            fd = os.open(
                os.path.join(root, lock_name), os.O_RDWR | os.O_CREAT
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return _lock()

    def _update_book(self, full_name: str, edit) -> None:
        """Read-modify-write the book under the book lock. ``edit``
        changes the dict in place and must be a pure dict edit: it
        runs under the lock, so it calls no catalog method. Empty
        definition entries are dropped. Lock order: a caller inside
        :meth:`_publish_lock` may take this lock, never the reverse."""
        with self._locked(full_name, ".book.lock"):
            book = self._book(full_name)
            edit(book)
            d = {k: v for k, v in book.get("definition", {}).items() if v}
            book.pop("definition", None)
            if d:
                book["definition"] = d
            write_json(self._book_path(full_name), book)

    def commit_token(self, full_name: str) -> str | None:
        """The live state's commit identity — Delta's "table version
        read at plan time" for optimistic concurrency. ``None`` for a
        table that does not exist yet. Capture it when a write plans,
        pass it back as ``expected_token``, and the publish raises
        :class:`ConcurrentWriteException` if another writer committed
        in between."""
        if not self.exists(full_name):
            return None
        return repr(self._live_commit_time(full_name))

    def _publish_lock(self, full_name: str):
        """Advisory exclusive lock serializing the check-token-then-
        swap critical section of every publish — what turns the token
        comparison into a real CAS. Single-filesystem scope, like the
        rest of this catalog's storage layer; a multi-driver
        deployment puts its commit service here."""
        return self._locked(full_name, ".publish_lock")

    def _check_expected(
        self, full_name: str, expected_token
    ) -> None:
        """Raise when the live commit moved past ``expected_token``
        (sentinel ``False`` disables the check)."""
        if expected_token is False:
            return
        found = self.commit_token(full_name)
        if found != expected_token:
            raise ConcurrentWriteException(
                full_name, expected_token, found
            )

    def _live_commit_time(self, full_name: str) -> float:
        """When the live state was last committed: the book's stamp
        when present, else (tables last written by an external writer)
        the MAX mtime over the whole tree — the root dir alone misses
        partitioned appends and leaf swaps."""
        t = self._book(full_name).get("commit", {}).get("time")
        if t is not None:
            return float(t)
        path = self.path(full_name)
        mx = os.path.getmtime(path)
        for dp, _dirs, fs in os.walk(path):
            mx = max(
                mx,
                os.path.getmtime(dp),
                *(os.path.getmtime(os.path.join(dp, f)) for f in fs),
            )
        return mx

    def _snapshot_commit_time(self, full_name: str, label: str) -> float:
        """A retained snapshot's commit time (when the captured state's
        bytes were committed) from the book — directory mtimes survive
        the snapshot rename but, like the root mtime, never saw
        partitioned appends. The mtime is only the fallback for a
        snapshot whose book update never landed."""
        snaps = self._book(full_name).get("commit", {}).get("snapshots", {})
        if label in snaps:
            return snaps[label]
        return os.path.getmtime(
            os.path.join(self._version_root(full_name), label)
        )

    def versions(self, full_name: str) -> list[str]:
        """Retained snapshot labels, oldest first (empty when
        versioning is off or nothing has been overwritten yet)."""
        root = self._version_root(full_name)
        if not os.path.isdir(root):
            return []
        return sorted(e for e in os.listdir(root) if e.startswith("v"))

    def read_version(
        self,
        full_name: str,
        steps_back: int = 1,
        *,
        version: int | str | None = None,
    ) -> DataFrame:
        """Time-travel read (Delta ``versionAsOf`` analogue on the
        emulated parquet path — the capability-convergence contract is
        tests/test_delta.py::test_snapshot_read_contract_*).

        Relative: ``steps_back=1`` = the state the last overwrite
        replaced. Absolute: ``version=N`` (or a ``"vNNNNNNNN"``
        label) addresses a snapshot by its monotonic number exactly
        like Delta's ``versionAsOf N`` — numbers are assigned at
        snapshot time, never reused, and stay addressable until pruned
        by ``keep_versions`` (Delta's VACUUM analogue; a pruned
        version raises the same ValueError as an out-of-range one).

        A version loads with the schema its commit recorded, like
        :meth:`read`: the one it was written with, not the live one.
        """
        vs = self.versions(full_name)
        if version is not None:
            label = version if isinstance(version, str) else f"v{version:08d}"
            if label not in vs:
                raise ValueError(
                    f"{full_name}: version {version!r} not retained "
                    f"(have {vs or 'none'}; pruned by keep_versions or "
                    "never written)"
                )
        else:
            if steps_back < 1 or steps_back > len(vs):
                raise ValueError(
                    f"{full_name} retains {len(vs)} version(s); "
                    f"steps_back={steps_back} unavailable"
                )
            label = vs[-steps_back]
        return self._load(
            os.path.join(self._version_root(full_name), label),
            self._committed_schema(full_name, label),
        )

    def history(self, full_name: str) -> list[dict]:
        """Delta ``DESCRIBE HISTORY`` analogue for retained snapshots:
        one row per retained version, oldest first — monotonic version
        number, label, and commit wall-clock time (the explicit
        per-snapshot stamp recorded when the snapshot was taken: when
        that state's bytes were committed — directory mtime is only
        the fallback for pre-stamp snapshots, since partitioned
        appends never updated it; ADVICE r11). The live table is not
        a row (it has no version number until replaced), matching the
        read_version addressing surface."""
        out = []
        for label in self.versions(full_name):
            out.append(
                {
                    "version": int(label[1:]),
                    "label": label,
                    "snapshot_time": self._snapshot_commit_time(
                        full_name, label
                    ),
                }
            )
        return out

    @staticmethod
    def _parse_travel_ts(ts) -> float:
        """Epoch seconds from an epoch number or an ISO-ish timestamp
        string ('2024-01-02', '2024-01-02 13:45:00'). Naive strings
        are local time — the same clock the commit mtimes use."""
        if isinstance(ts, (int, float)):
            return float(ts)
        import datetime as _dt

        try:
            # ISO attempts FIRST: fromisoformat also accepts compact
            # dates ('20240102'), which a float() probe would steal
            # and silently misread as epoch seconds in 1970
            return _dt.datetime.fromisoformat(str(ts)).timestamp()
        except ValueError:
            pass
        try:
            # the SQL front-end delivers strings; a numeric literal
            # that is not a date ('1700000000.5') is epoch seconds,
            # same as the number
            return float(str(ts))
        except ValueError:
            raise ValueError(
                f"TIMESTAMP AS OF: cannot parse {ts!r} — pass epoch "
                "seconds or an ISO timestamp ('YYYY-MM-DD "
                "[HH:MM:SS]')"
            ) from None

    def version_at_timestamp(self, full_name: str, ts) -> str | None:
        """Delta ``TIMESTAMP AS OF`` resolution: the newest state
        committed at or before ``ts`` — a retained snapshot's label,
        or None meaning the LIVE state. Commit times are the explicit
        per-write stamps (``history()``'s ``snapshot_time``; the live
        state's clock advances on EVERY write path, including
        partitioned appends and leaf swaps that leave the root dir
        mtime untouched — ADVICE r11). A ``ts`` earlier than every
        retained commit raises — Delta's before-earliest-version
        error; a vacuumed history cannot silently serve a newer state
        as an older one."""
        ts = self._parse_travel_ts(ts)
        if ts >= self._live_commit_time(full_name):
            return None
        cands = [
            r for r in self.history(full_name)
            if r["snapshot_time"] <= ts
        ]
        if not cands:
            raise ValueError(
                f"TIMESTAMP AS OF {ts}: predates every retained "
                f"version of {full_name} (oldest retained commits "
                "are pruned by keep_versions / VACUUM)"
            )
        return max(cands, key=lambda r: r["snapshot_time"])["label"]

    def read_timestamp(self, full_name: str, ts) -> DataFrame:
        """Time travel by wall clock (Delta ``TIMESTAMP AS OF``): the
        table as of ``ts`` (epoch seconds or ISO string). Resolves to
        a retained snapshot or the live state via
        :meth:`version_at_timestamp`."""
        label = self.version_at_timestamp(full_name, ts)
        if label is None:
            return self.read(full_name)
        return self.read_version(full_name, version=label)

    def _version_state(self, full_name: str, version):
        """(frame, directory, commit-stamp literal) of a retained
        version — or, with ``version=None``, the live table."""
        if version is None:
            return (
                self.read(full_name),
                self.path(full_name),
                F.lit(None).cast("int"),
            )
        label = version if isinstance(version, str) else f"v{version:08d}"
        return (
            self.read_version(full_name, version=version),
            os.path.join(self._version_root(full_name), label),
            F.lit(int(label[1:])).cast("int"),
        )

    def _diff_slices(
        self,
        full_name: str,
        lo,
        hi,
        partition_cols: list[str] | None,
    ):
        """The two version states a diff compares, pruned (when
        ``partition_cols``) to the leaves that can possibly differ —
        the shared scan stage under :meth:`table_changes` and
        :meth:`snapshot_diff`. Returns (old, new, commit-stamp)."""
        o, o_dir, _ = self._version_state(full_name, lo)
        n, n_dir, commit = self._version_state(full_name, hi)
        if partition_cols:
            touched = _touched_partitions(o_dir, n_dir, partition_cols)
            pred = (
                partition_predicate(partition_cols, touched)
                if touched
                else F.lit(False)
            )
            o, n = o.filter(pred), n.filter(pred)
        return o, n, commit

    def snapshot_diff(
        self,
        full_name: str,
        keys: list[str],
        *,
        from_version: int | str,
        to_version: int | str | None = None,
        compare_cols: list[str] | None = None,
        include_new_values: bool = False,
        partition_cols: list[str] | None = None,
    ) -> DataFrame:
        """Version-addressed keyed diff in the reconciliation row
        shape — ``(keys..., op, changed_cols[, new_row])`` — the
        :func:`operators.diff.snapshot_diff` sibling of
        :meth:`table_changes` (which emits the Delta-CDF four-kind
        row shape). ``to_version=None`` diffs against the live state.
        ``partition_cols`` prunes provably-unchanged leaves out of
        both scans exactly as in :meth:`table_changes` (shared
        ``_diff_slices`` stage)."""
        from .operators.diff import snapshot_diff

        old, new, _ = self._diff_slices(
            full_name, from_version, to_version, partition_cols
        )
        bad = [k for k in keys if k not in old.columns]
        if bad:
            raise ValueError(
                f"{full_name}: key column(s) {bad} not in version "
                f"{from_version!r} (has {old.columns})"
            )
        return snapshot_diff(
            old, new, keys, compare_cols, include_new_values
        )

    def table_changes(
        self,
        full_name: str,
        keys: list[str],
        *,
        from_version: int | str | None = None,
        to_version: int | str | None = None,
        from_timestamp=None,
        to_timestamp=None,
        compare_cols: list[str] | None = None,
        granularity: str = "net",
        partition_cols: list[str] | None = None,
    ) -> DataFrame:
        """Delta **Change Data Feed** analogue (``table_changes()`` /
        ``spark.read.option("readChangeFeed", ...)`` — the reference's
        Delta backend exposes exactly this surface): the row changes
        between two retained versions, in the CDF row shape — table
        columns plus ``_change_type`` ∈ {'insert', 'delete',
        'update_preimage', 'update_postimage'} and
        ``_commit_version``.

        ``granularity``:

        * ``"net"`` (default): ONE diff between the two endpoint
          states — intermediate versions roll up, ``_commit_version``
          stamps the endpoint.
        * ``"commit"``: Delta ``table_changes(from, to)`` semantics —
          one batch of rows per retained hop (from→from+1, ...,
          to-1→to), each stamped with its DESTINATION version, so a
          consumer replaying a 3-version range sees each commit's
          changes, not the collapsed endpoint state. Requires every
          intermediate version retained (contiguous numbers);
          vacuumed gaps make per-commit history unreconstructible and
          fail fast — fall back to ``"net"`` for a gapped range.

        With ``to_version=None`` the live (not-yet-versioned) state is
        the final target and its ``_commit_version`` is NULL — the
        live state has no number until an overwrite replaces it (see
        _next_version); emitting the predicted number would bake in a
        guess.

        ``partition_cols``: for a hive-partitioned table, prune leaves
        PROVABLY unchanged between the two snapshots out of BOTH scans
        before the diff join — a pure directory-metadata probe
        (identical (name, size, mtime, inode) file sets; snapshots
        here are renames/hardlinks, so carried-through leaves keep
        their inodes — see :meth:`snapshot`). A 3,000-partition table
        where one date partition changed diffs one partition's files.
        Full-rewrite snapshots share no files, so everything reports
        touched and the diff degrades gracefully to the full join.

        ``keys`` identify rows across versions (Delta tracks row
        identity through the MERGE that wrote it; a snapshot diff
        needs the key spelled out). Cost: one null-safe full-outer
        join per hop — see operators/diff.py:change_feed for the
        scale story.

        Addressing: by version (``from_version``/``to_version``) or by
        instant (``from_timestamp``/``to_timestamp`` — Delta's
        ``table_changes('t', '<ts1>', '<ts2>')`` form), independently
        mixable. Instants resolve to the state committed at or before
        them through the per-write commit clock, the same resolution
        ``SELECT ... TIMESTAMP AS OF`` uses.
        """
        if granularity not in ("net", "commit"):
            raise ValueError(
                f"granularity must be 'net' or 'commit', not "
                f"{granularity!r}"
            )
        # Timestamp addressing (Delta's other table_changes form):
        # resolve each instant to the state committed AT OR BEFORE it
        # through the per-write commit clock (version_at_timestamp, the
        # same resolution SELECT ... TIMESTAMP AS OF uses), then
        # proceed exactly as the version-addressed feed — the changes
        # between two instants ARE the changes between the states they
        # resolve to. Earlier-than-every-retained-commit raises there
        # (Delta's before-earliest error); an instant at/after the
        # latest commit as the START raises here (Delta's
        # 'timestamp after the latest commit' error) because there is
        # nothing after it to feed.
        if (from_version is None) == (from_timestamp is None):
            raise ValueError(
                f"{full_name}: table_changes needs exactly one of "
                "from_version / from_timestamp"
            )
        if to_version is not None and to_timestamp is not None:
            raise ValueError(
                f"{full_name}: table_changes takes at most one of "
                "to_version / to_timestamp"
            )
        if from_timestamp is not None:
            label = self.version_at_timestamp(full_name, from_timestamp)
            if label is None:
                raise ValueError(
                    f"{full_name}: from_timestamp {from_timestamp!r} "
                    "is at or after the latest commit — no changes "
                    "exist after it"
                )
            from_version = label
        if to_timestamp is not None:
            # None = the live state (an instant at/after the last
            # commit ends the feed at live, same as omitting `to`)
            to_version = self.version_at_timestamp(
                full_name, to_timestamp
            )
        from_label = (
            from_version
            if isinstance(from_version, str)
            else f"v{from_version:08d}"
        )
        if to_version is not None:
            # ADVICE r13: an inverted range (from AFTER to) must raise
            # — Delta errors, it does not return the feed with inserts
            # and deletes swapped.
            _to_label = (
                to_version
                if isinstance(to_version, str)
                else f"v{to_version:08d}"
            )
            if int(from_label[1:]) > int(_to_label[1:]):
                raise ValueError(
                    f"{full_name}: table_changes start {from_label} is "
                    f"after end {_to_label} — the range is inverted"
                )
        old = self.read_version(full_name, version=from_version)
        bad = [k for k in keys if k not in old.columns]
        if bad:
            raise ValueError(
                f"{full_name}: key column(s) {bad} not in version "
                f"{from_version!r} (has {old.columns})"
            )

        def hop(lo, hi) -> DataFrame:
            from .operators.diff import change_feed

            o, n, commit = self._diff_slices(full_name, lo, hi,
                                             partition_cols)
            return change_feed(o, n, keys, compare_cols).withColumn(
                "_commit_version", commit
            )

        if granularity == "net":
            return hop(from_version, to_version)

        # per-commit: enumerate the retained hops in the range
        from_i = int(from_label[1:])
        retained = [int(lbl[1:]) for lbl in self.versions(full_name)]
        if to_version is None:
            to_i = None
            inter = [v for v in retained if v > from_i]
        else:
            to_label = (
                to_version
                if isinstance(to_version, str)
                else f"v{to_version:08d}"
            )
            to_i = int(to_label[1:])
            if to_i not in retained:
                raise ValueError(
                    f"{full_name}: version {to_version!r} not retained "
                    f"(have {self.versions(full_name) or 'none'})"
                )
            inter = [v for v in retained if from_i < v <= to_i]
        expected = list(range(from_i + 1, (inter[-1] if inter else from_i) + 1))
        if inter != expected:
            missing = sorted(set(expected) - set(inter))
            raise ValueError(
                f"{full_name}: per-commit feed over v{from_i}→"
                f"{'live' if to_i is None else f'v{to_i}'} needs every "
                f"intermediate version retained; missing {missing} "
                "(vacuumed/pruned). Use granularity='net' for the "
                "collapsed endpoint diff."
            )
        bounds = [from_i, *inter] + ([None] if to_version is None else [])
        if len(bounds) < 2:
            # from == to: no commits in range — empty feed, right shape
            return hop(from_version, from_version)
        feeds = [hop(lo, hi) for lo, hi in zip(bounds, bounds[1:])]
        out = feeds[0]
        for f in feeds[1:]:
            # allowMissingColumns: a schema-evolving commit inside the
            # range (ADD COLUMNS, generated-column backfill, evolving
            # MERGE) makes hop frames differ — read the whole feed
            # with the union of schemas, NULL-filling older commits'
            # rows, exactly how Delta CDF reads a range spanning a
            # schema change with the latest schema
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def _next_version(self, full_name: str) -> int:
        """Next never-reused version number for a table.

        High-water mark: version numbers are promised never-reused
        even after vacuum() retires every retained snapshot, so the
        counter lives in the book (``commit.hwm``), not the directory
        listing. A snapshot directory whose book update never landed
        still counts through the listing. (drop()/truncate() remove
        the whole version root — a table recreated from scratch
        legitimately restarts at v1.)"""
        existing = self.versions(full_name)
        top = int(existing[-1][1:]) if existing else 0
        hwm = self._book(full_name).get("commit", {}).get("hwm", 0)
        if type(hwm) is not int:
            # A corrupted counter must not surface as a cryptic error
            # blocking every overwrite (ADVICE r8): name the file and
            # how to repair it. We do NOT silently fall back to
            # max(existing labels) — after a vacuum that retired
            # high-numbered snapshots that would reuse version
            # numbers, the exact promise the counter exists to keep.
            raise RuntimeError(
                f"{full_name}: version counter commit.hwm in "
                f"{self._book_path(full_name)} is corrupted (value "
                f"{hwm!r}, expected an integer). Repair it by setting "
                "it to the highest version number ever assigned to "
                f"this table (at least {top}, from the retained "
                "vNNNNNNNN labels), or remove the key to restart "
                "numbering if the table's history is being discarded."
            )
        return 1 + max(hwm, top)

    def _prune_versions(self, full_name: str, pin: str | None = None) -> None:
        """Retire retained snapshots beyond ``keep_versions``, never
        the ``pin`` label (restore's source)."""
        root = self._version_root(full_name)
        for stale in self.versions(full_name)[: -self.keep_versions]:
            if stale != pin:
                shutil.rmtree(os.path.join(root, stale), ignore_errors=True)

    def _snapshot_or_drop(self, full_name: str, pin: str | None = None) -> dict:
        """Move the current table dir aside as a snapshot (a rename,
        not a copy) and prune beyond ``keep_versions`` — or just drop
        it when versioning is off. Returns ``{label: commit time}`` of
        the state put aside (``{}`` when none) for the caller's book
        update (:meth:`_invalidate`)."""
        final = self.path(full_name)
        if not os.path.isdir(final):
            return {}
        if self.keep_versions <= 0:
            shutil.rmtree(final)
            return {}
        # the state being put aside was committed at the live clock's
        # current reading — capture BEFORE the rename consumes it
        ct = self._live_commit_time(full_name)
        label = f"v{self._next_version(full_name):08d}"
        os.makedirs(self._version_root(full_name), exist_ok=True)
        os.replace(final, os.path.join(self._version_root(full_name), label))
        self._prune_versions(full_name, pin)
        return {label: ct}

    def snapshot(self, full_name: str, expected_token=False) -> int:
        """Checkpoint the LIVE table state as a new retained version
        without replacing it. Every write already retains its own
        pre-state (:meth:`_publish`); this pins the CURRENT state, for
        example as the right-hand side of a ``table_changes`` range.

        Runs under the publish lock so the hardlink walk never tears
        against a concurrent staging swap; ``expected_token`` (a
        :meth:`commit_token` capture) additionally raises
        :class:`ConcurrentWriteException` when the live state moved
        since that capture — pass it when the snapshot must pin the
        exact state a plan read.

        The checkpoint is HARDLINKS (``os.link`` per file — the same
        immutable-files argument as clone/restore: every write path
        here replaces whole files, nothing appends in place), so cost
        is O(#files) metadata, never O(bytes) — snapshotting a 3,000-
        partition table before a 3-partition merge copies no data.
        The shared inodes are also what lets ``table_changes``'
        partition-pruned diff PROVE a leaf untouched (identical
        (name, size, mtime, inode) file sets) instead of re-scanning
        it. Returns the assigned version number."""
        with self._publish_lock(full_name):
            self._check_expected(full_name, expected_token)
            snap = self._snapshot_live(full_name)
            # the live state did not change: no commit stamp
            self._invalidate(full_name, stamp=False, snapshots=snap)
        return int(next(iter(snap))[1:])

    def _snapshot_live(self, full_name: str) -> dict:
        """:meth:`snapshot`'s hardlink checkpoint, for callers already
        holding the publish lock (flock does not nest within a
        process). Returns ``{label: commit time}`` like
        :meth:`_snapshot_or_drop`; the caller records it."""
        final = self.path(full_name)
        if not os.path.isdir(final):
            raise ValueError(f"cannot snapshot {full_name}: no live table")
        if self.keep_versions <= 0:
            raise ValueError(
                f"cannot snapshot {full_name}: versioning is off "
                "(keep_versions=0 on this catalog)"
            )
        root = self._version_root(full_name)
        os.makedirs(root, exist_ok=True)
        ct = self._live_commit_time(full_name)
        label = f"v{self._next_version(full_name):08d}"
        staging = os.path.join(root, ".snap_staging")
        shutil.rmtree(staging, ignore_errors=True)
        shutil.copytree(final, staging, copy_function=os.link)
        os.replace(staging, os.path.join(root, label))
        self._prune_versions(full_name)
        return {label: ct}

    def _stage(
        self,
        df: DataFrame,
        full_name: str,
        suffix: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write ``df`` into the table's ``suffix`` staging directory
        (one of ``_STAGING_SUFFIXES``), replacing any leftover there,
        and return its path — the first half of every plain-file
        write; :meth:`_publish` is the second. A write that raises
        removes what it staged and leaves the live table untouched."""
        staging = self.path(full_name) + suffix
        shutil.rmtree(staging, ignore_errors=True)
        writer = df.write.format(self.fmt).mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.save(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _publish(
        self,
        full_name: str,
        staging: str,
        expected_token=False,
        *,
        schema,
        leaves: set[str] | None = None,
        emptied: set[str] = frozenset(),
        files: bool = False,
        txn: tuple[str, int] | None = None,
        pin: str | None = None,
    ) -> None:
        """Commit a staged write — the one commit point of every
        plain-file write. Under the table's publish lock: (1) check
        the OCC token (``False``: a blind writer; a conflict removes
        ``staging`` and raises :class:`ConcurrentWriteException`),
        (2) retain the pre-state per ``keep_versions``, (3) swap,
        (4) make ONE book update (:meth:`_invalidate`, carrying an
        append's ``txn`` and the committed ``schema``: the staged
        rows' ``StructType``, or None when it is not known, so reads
        infer it). The swap replaces the whole directory by default
        (pre-state RENAMED aside; pruning keeps ``pin``,
        restore's source); with ``leaves`` (hive-relative paths under
        ``staging``) only those leaf directories, removing the
        ``emptied`` ones; with ``files`` it moves each staged data
        file into the live tree (append). The last two keep the rest
        in place, so their pre-state is a hardlink snapshot sharing
        inodes with the live files. flock does not nest, so nothing
        in here calls a public write method."""
        final = self.path(full_name)
        with self._publish_lock(full_name):
            try:
                self._check_expected(full_name, expected_token)
            except ConcurrentWriteException:
                shutil.rmtree(staging, ignore_errors=True)
                raise
            if leaves is None and not files:
                snap = self._snapshot_or_drop(full_name, pin)
                os.replace(staging, final)
            else:
                snap = (
                    self._snapshot_live(full_name)
                    if self.keep_versions > 0 and os.path.isdir(final)
                    else {}
                )
                moves = (
                    [os.path.relpath(f, staging) for f in data_files(staging)]
                    if files
                    else sorted(leaves)
                )
                for rel in moves:
                    dst = os.path.join(final, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    if not files:
                        shutil.rmtree(dst, ignore_errors=True)
                    os.replace(os.path.join(staging, rel), dst)
                for rel in sorted(emptied):
                    shutil.rmtree(os.path.join(final, rel), ignore_errors=True)
                    # prune now-empty intermediate levels so a later
                    # leaf walk doesn't report a valueless husk
                    parent = os.path.dirname(os.path.join(final, rel))
                    while (
                        parent != final
                        and os.path.isdir(parent)
                        and not os.listdir(parent)
                    ):
                        os.rmdir(parent)
                        parent = os.path.dirname(parent)
                shutil.rmtree(staging, ignore_errors=True)
            self._invalidate(
                full_name, snapshots=snap, txn=txn, schema=schema
            )

    def overwrite(
        self,
        df: DataFrame,
        full_name: str,
        partition_by: list[str] | None = None,
        _preclustered: bool = False,
    ) -> None:
        """Full-overwrite sink (reference lib/ingestors.py:92-96).

        ``partition_by`` is the 100 TB upgrade the reference lacks
        (SURVEY.md §7.4(8)): date-partitioned layout enables partition
        pruning + dynamic partition overwrite downstream.

        A blind write (no OCC token) through the same stage-then-
        publish commit as :meth:`overwrite_via_staging`: the rows are
        written to staging first, so a write that fails (a CHECK
        guard, a task error) leaves the live table and its versions
        as they were, and a plan that reads the table it overwrites is
        safe. On Delta, Delta's own transactional ``overwrite`` runs
        instead; its _delta_log provides the versioning."""
        self.overwrite_via_staging(
            df, full_name, partition_by,
            _preclustered=_preclustered, expected_token=False,
        )

    def carry_marker_files(self, full_name: str, staging: str) -> None:
        """Hardlink the live table directory's dot-prefixed marker
        files (``commit_marker`` residue like ``.replica_synced`` /
        ``.applied_batch``) into ``staging`` so a ROW-PRESERVING
        rewrite (OPTIMIZE / compaction / recluster) keeps them —
        ADVICE r13: losing a replica's sync token wedged its sync
        permanently. Row-CHANGING overwrites must NOT call this: a
        marker certifies row content, and carrying it across a data
        change would assert a sync state that no longer holds.
        ``.crc`` checksum artifacts are data-file-specific and are
        left behind; names staging already owns win."""
        live = self.path(full_name)
        if not os.path.isdir(live):
            return
        for f in os.listdir(live):
            src = os.path.join(live, f)
            if (
                not f.startswith(".")
                or f.endswith(".crc")
                or not os.path.isfile(src)
            ):
                continue
            dst = os.path.join(staging, f)
            if not os.path.exists(dst):
                os.link(src, dst)

    def overwrite_via_staging(
        self,
        df: DataFrame,
        full_name: str,
        partition_by: list[str] | None = None,
        commit_marker: tuple[str, str] | None = None,
        _preclustered: bool = False,
        carry_markers: bool = False,
        expected_token=_AUTO_TOKEN,
    ) -> None:
        """Overwrite a table whose current files feed the plan.

        Lazily reading and overwriting the same parquet directory is
        undefined in OSS Spark (the scan would see its own deletes), so
        the result is materialized to ``{path}__staging`` first and then
        swapped in (:meth:`_stage`, then :meth:`_publish`). On Delta
        the overwrite is transactional (snapshot isolation: the scan
        reads the pre-commit version), so Delta's own ``overwrite``
        runs — no staging copy.

        ``commit_marker``: an optional ``(filename, contents)`` small
        file written INTO the staging directory before the swap, so it
        commits atomically with the data — the transactionality hook
        for idempotent streaming folds (views.py ``batch_token``). The
        filename must start with ``.`` or ``_`` (Spark scans ignore
        those). Not supported on Delta — use Delta's own
        ``txnAppId``/``txnVersion`` idempotent-writes there.

        ``expected_token``: optimistic concurrency (VERDICT r13 ask
        #3). By default the live commit token is captured at ENTRY and
        re-checked under the publish lock right before the swap — two
        interleaved writers can both pay for staging, but only the
        first swap wins; the second raises
        :class:`ConcurrentWriteException` instead of silently
        clobbering the first's commit (Delta's OCC contract). Pass a
        token captured earlier via :meth:`commit_token` to widen the
        window to plan time, or ``False`` to skip (an internal caller
        that already holds the table single-writer).
        """
        if expected_token is _AUTO_TOKEN:
            expected_token = self.commit_token(full_name)
        if commit_marker is not None:
            if self.fmt == "delta":
                raise ValueError(
                    "commit_marker is a staging-swap feature; on Delta "
                    "use txnAppId/txnVersion idempotent writes instead"
                )
            if not commit_marker[0].startswith((".", "_")):
                raise ValueError(
                    f"commit_marker filename {commit_marker[0]!r} must "
                    "start with '.' or '_' so table scans ignore it"
                )
        df = self._with_check_guards(df, full_name)
        if not _preclustered:
            # clustering-on-write for CLUSTER BY tables; writers that
            # already produced the declared layout (optimize_table's
            # zorder frame, with its explicit file-count control)
            # pass _preclustered=True and skip the second shuffle
            df = self._apply_declared_clustering(
                df, full_name, partition_by
            )
        if self.fmt == "delta":
            writer = df.write.format("delta").mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.save(self.path(full_name))
            self._invalidate(full_name)
        else:
            staging = self._stage(df, full_name, "__staging", partition_by)
            if commit_marker is not None:
                fname, contents = commit_marker
                with open(os.path.join(staging, fname), "w") as fh:
                    fh.write(contents)
            if carry_markers:
                self.carry_marker_files(full_name, staging)
            self._publish(
                full_name, staging, expected_token, schema=df.schema
            )
        if self.declared_cluster_cols(full_name):
            # the whole table now carries the declared layout (the
            # clustering hook or a _preclustered caller produced it):
            # refresh the liquid-clustering file book
            self._mark_clustered_current(full_name)

    def _append_txn_seen(self, full_name: str, txn_id: str) -> bool:
        txns = self._book(full_name).get("commit", {}).get("append_txns", {})
        return txn_id in txns

    def _cleanup_append_txn(self, full_name: str, txn_id: str) -> None:
        """Remove data files a CRASHED attempt of this txn left in the
        live tree (they carry the ``txn-{id}-`` name prefix), so the
        replay converges to exactly-once instead of doubling the
        partial batch. If the cleanup empties the table entirely (the
        crashed txn was the table's FIRST batch), the directory husk
        is removed so the replay re-takes the create path."""
        base = self.path(full_name)
        if not os.path.isdir(base):
            return
        prefix = f"txn-{txn_id}-"
        remaining = 0
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                if f.startswith(prefix):
                    os.remove(os.path.join(dirpath, f))
                else:
                    remaining += 1
        if remaining == 0:
            shutil.rmtree(base, ignore_errors=True)
        self._invalidate(full_name)

    def append(
        self,
        df: DataFrame,
        full_name: str,
        partition_by: list[str] | None = None,
        txn_id: str | None = None,
        expected_token=_AUTO_TOKEN,
    ) -> int:
        """Delta ``mode("append")`` analogue: add rows to a table
        WITHOUT reading or rewriting its existing bytes — the write
        path a daily load needs at 100 TB (a day's rows into a year's
        table costs the day, not the year). Returns rows appended.

        The new rows are materialized into a staging directory (the
        CHECK-constraint guard rides that write) and the data FILES
        are then moved into the live tree — O(#new files) metadata
        renames; Spark's write-UUID part names make collisions
        impossible. On a partitioned table (layout auto-detected via
        :func:`detect_partition_cols` when ``partition_by`` is not
        given) files land inside their leaf directories, creating new
        leaves as needed — appending INTO an existing leaf adds files
        beside the old ones, it never rewrites them (unlike
        overwrite_partitions, which replaces whole leaves).

        Schema is strict: the incoming frame must carry exactly the
        live table's columns with identical types (append cannot
        evolve a schema — that's ``merge_upsert(evolve_schema=True)``'s
        job; a silent type drift would poison the directory for every
        future reader). A non-existent table is created
        (``mode("append")`` semantics).

        Commit: stage, then :meth:`_publish` — under the publish lock
        the pre-state is retained as a hardlink snapshot (when
        ``keep_versions > 0``), so time travel shows the table before
        the append and ``table_changes`` over it yields pure inserts;
        then the files move and one book update records the commit
        (with the ``txn_id`` token). Atomicity is PER FILE: a reader
        racing the move may see a subset of the new files (Delta gets
        cross-file atomicity from its log).

        Replay contract: WITHOUT ``txn_id``, re-running the same
        append doubles rows (appends carry no row identity — the
        key-based CDC merge is the keyless-idempotence alternative).
        WITH ``txn_id`` (the Delta ``txnAppId``/``txnVersion``
        analogue, and the table-layer sibling of the views layer's
        ``batch_token``), the append is EXACTLY-ONCE under replay:

        - a token already recorded in the book's ``commit`` section
          (recorded in the commit's one book update, after every file
          move landed) → no-op returning 0;
        - a crashed attempt's partial files are recognizable (each
          moved file is name-prefixed ``txn-{id}-``) and removed
          before the retry re-moves the full staged batch — the
          replay converges instead of doubling the partial;
        - a FIRST batch (table created by the txn, or the first into
          a declared-partitioned empty table) goes live in ONE atomic
          directory rename carrying a ``.txn-{id}-create`` marker: a
          replay that finds the marker records the landed batch
          instead of re-appending it; without the marker the same
          cleanup empties the table, removes the husk, and the retry
          re-takes the create path.

        A replayed-after-crash append may retain one extra identical
        snapshot version (the retry checkpoints again); retention
        pruning bounds it. ``txn_id`` must be filesystem-safe
        ([A-Za-z0-9._-]); on a Delta catalog pass Delta's own
        ``txnAppId``/``txnVersion`` writer options instead.

        ``expected_token``: same optimistic-concurrency contract as
        :meth:`overwrite_via_staging` — captured at entry by default,
        re-checked under the publish lock before the file moves (or
        the create rename) commit. Stricter than Delta, which lets
        disjoint appends commute: any concurrent commit raises here,
        because a file-move append cannot prove the other writer only
        appended.
        """
        if txn_id is not None:
            if self.fmt == "delta":
                raise ValueError(
                    "append(txn_id=...) on a Delta catalog: use "
                    "Delta's own txnAppId/txnVersion writer options — "
                    "the token file and name-prefix protocol here "
                    "assume plain-parquet directories"
                )
            import re as _re

            txn_id = str(txn_id)
            if not _re.fullmatch(r"[A-Za-z0-9._-]+", txn_id):
                raise ValueError(
                    f"append txn_id {txn_id!r} must be filesystem-"
                    "safe: [A-Za-z0-9._-]+"
                )
            if self._append_txn_seen(full_name, txn_id):
                return 0
            marker = os.path.join(
                self.path(full_name), f".txn-{txn_id}-create"
            )
            if os.path.exists(marker):
                # a whole-directory first write (_append_staged)
                # swaps the directory in with this marker inside it;
                # a crash between the swap and the book update leaves
                # the marker as proof the batch landed — the retry
                # must NOT re-append it through the file-move path
                # (the table exists now, so the first-write branches
                # are unreachable on replay)
                n = self.read(full_name).count()
                # record BEFORE removing the proof: a crash in between
                # leaves a recorded token, never a lost one
                self._invalidate(full_name, txn=(txn_id, n))
                os.remove(marker)
                return n
            self._cleanup_append_txn(full_name, txn_id)
        if expected_token is _AUTO_TOKEN:
            # capture AFTER the replay cleanup: sweeping a crashed
            # attempt's partials advances the commit clock, and that
            # is THIS writer's own action, not a conflicting commit
            expected_token = self.commit_token(full_name)
        if not self.exists(full_name):
            if txn_id is None:
                n = df.count()
                if n:
                    self.overwrite(df, full_name, partition_by=partition_by)
                return n
            # exactly-once create path: the staged batch goes live in
            # ONE atomic directory rename, its token recorded in the
            # same commit
            return self._append_staged(
                self._with_check_guards(df, full_name), full_name,
                partition_by, txn_id, expected_token, files=False,
            )
        live = self.read(full_name)
        # a feed may omit declared GENERATED columns — compute them
        # before the strict column-set check (supplied ones keep the
        # per-row equality guard via _with_check_guards below)
        df = self._with_generated(df, full_name)
        missing = [c for c in live.columns if c not in df.columns]
        extra = [c for c in df.columns if c not in live.columns]
        if missing or extra:
            raise ValueError(
                f"append to {full_name}: column set mismatch "
                f"(missing {missing}, unexpected {extra}); append is "
                "strict — additive schema changes go through "
                "merge_upsert(evolve_schema=True)"
            )
        if partition_by is None and self.fmt != "delta":
            partition_by = detect_partition_cols(
                self.path(full_name)
            ) or self.declared_partition_cols(full_name)
        aligned = df.select(*live.columns)
        # Partition columns are EXCLUDED from the type-drift check on
        # the plain-file path: their live-read types come from Spark's
        # partition-VALUE inference over the dirnames (day string →
        # DateType, '007' → int), not from any stored schema, so a
        # string-partitioned daily feed would otherwise be rejected on
        # its second run. Their on-disk representation is the dirname
        # encoding either way; data-column types stay strict — a
        # drifted part file would poison the directory for every
        # future reader.
        skip = set(partition_by or []) if self.fmt != "delta" else set()
        drift = [
            (c, str(a.dataType), str(b.dataType))
            for c, a, b in zip(
                live.columns, aligned.schema.fields, live.schema.fields
            )
            if c not in skip and a.dataType != b.dataType
        ]
        if drift:
            raise ValueError(
                f"append to {full_name}: type drift {drift} — cast "
                "explicitly; mixed-type part files would poison the "
                "directory for every future reader"
            )
        guarded = self._with_check_guards(
            aligned, full_name, skip_generated=True
        )
        if (
            self.fmt != "delta"
            and partition_by
            and detect_partition_cols(self.path(full_name)) is None
            and self.declared_partition_cols(full_name) == partition_by
        ):
            # first data into a DECLARED-partitioned empty table
            # (column-list DDL + PARTITIONED BY): the root
            # schema-anchor file cannot coexist with hive leaf dirs
            # (Spark refuses mixed directory structures), so the
            # first write replaces the whole — empty — directory with
            # the partitioned layout instead of moving files in.
            # Guarded on actual emptiness: a declared table that
            # somehow holds unpartitioned rows keeps plain-append
            # semantics rather than silently dropping them.
            if live.limit(1).count() == 0:
                return self._append_staged(
                    guarded, full_name, partition_by, txn_id,
                    expected_token, files=False,
                )
            # declared-partitioned but rows already live UNPARTITIONED
            # (e.g. an explicit partition_by=None first write): leaf
            # dirs beside root files would be a mixed layout Spark
            # refuses — keep appending flat
            partition_by = None
        if self.fmt == "delta":
            # Delta's own transactional append: the log registers the
            # new files atomically (and a file-move behind the log's
            # back would corrupt the table). Delta also re-checks the
            # schema against the log, superseding the best-effort
            # checks above.
            n = aligned.count()
            if n:
                writer = guarded.write.format("delta").mode("append")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.save(self.path(full_name))
                self._invalidate(full_name)
            return n
        return self._append_staged(
            guarded, full_name, partition_by, txn_id, expected_token,
            files=True,
        )

    def _append_staged(
        self,
        guarded: DataFrame,
        full_name: str,
        partition_by: list[str] | None,
        txn_id: str | None,
        expected_token,
        files: bool,
    ) -> int:
        """Stage an append batch, then publish it: ``files`` moves the
        staged data files into the live tree; otherwise the staged
        directory goes live whole (the batch that creates the table,
        or the first into a declared-partitioned empty one). Returns
        the rows appended."""
        staging = self._stage(
            guarded, full_name, "__appstaging", partition_by
        )
        # metadata-only count off the staged parquet footers; the
        # explicit schema keeps an EMPTY partitioned staging readable
        # (0 rows write only _SUCCESS, which cannot infer a schema)
        n = (
            self.spark.read.format(self.fmt)
            .schema(guarded.schema)
            .load(staging)
            .count()
        )
        if n == 0:
            shutil.rmtree(staging, ignore_errors=True)
            if txn_id is not None and not files:
                self._invalidate(full_name, txn=(txn_id, 0))
            return 0
        marker = f".txn-{txn_id}-create"
        if txn_id is not None:
            # the txn- name prefix lets a replay recognize (and remove)
            # a crashed attempt's partially moved files
            for f in data_files(staging):
                os.replace(
                    f,
                    os.path.join(
                        os.path.dirname(f),
                        f"txn-{txn_id}-{os.path.basename(f)}",
                    ),
                )
            if not files:
                # rides the directory swap: proof the batch landed if
                # the process dies before the book records the token
                with open(os.path.join(staging, marker), "w") as fh:
                    fh.write(txn_id)
        self._publish(
            full_name, staging, expected_token, files=files,
            schema=guarded.schema,
            txn=None if txn_id is None else (txn_id, n),
        )
        if txn_id is not None and not files:
            os.remove(os.path.join(self.path(full_name), marker))
        return n

    def read_marker(self, full_name: str, filename: str) -> str | None:
        """Contents of a ``commit_marker`` file riding the live table
        directory, or None if absent."""
        p = os.path.join(self.path(full_name), filename)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return fh.read()

    # --- table definition (the book's ``definition`` section) --------

    def definition(self, full_name: str) -> dict:
        """The table's declared definition — what CREATE OR REPLACE
        discards and CLONE copies: ``constraints`` ``{name: expr}``,
        ``generated`` ``{col: expr}``, ``identity`` ``{col: spec}``,
        ``comment``, ``columns`` (column comments), ``tblproperties``,
        ``partition_by`` / ``cluster_by`` (declared layout) and
        ``mview`` (a materialized view's SQL). Absent entries are
        unset. A fresh dict on every call: edit it freely."""
        return self._book(full_name).get("definition", {})

    def update_definition(self, full_name: str, **entries) -> None:
        """Set definition entries in one book update; an empty or None
        value removes the entry."""
        self._edit_definition(full_name, lambda d: d.update(entries))

    def clear_definition(self, full_name: str) -> None:
        """Drop the whole definition (CREATE OR REPLACE: constraints,
        generated/identity declarations, comments, properties, layout
        and a view definition attach to the definition being
        replaced, not to the name). The commit section — history, the
        version counter, txn ids — stays. The clustered-file book
        certified the old keys' layout, so it goes too."""
        self._update_book(full_name, lambda b: b.pop("definition", None))
        p = self._clustered_files_path(full_name)
        if os.path.exists(p):
            os.remove(p)

    def _edit_definition(self, full_name: str, edit) -> None:
        """:meth:`_update_book` on the definition section: ``edit``
        changes the section dict in place (same purity rule), so a
        read-modify-write of one entry cannot lose a concurrent edit
        of another."""
        self._update_book(
            full_name, lambda b: edit(b.setdefault("definition", {}))
        )

    # --- table-level CHECK constraints -------------------------------
    # Delta ``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)``
    # analogue: constraints are TABLE metadata (they live in the
    # table's book, survive every overwrite, are dropped with the
    # table, and are copied by CLONE — Delta's constraint-propagation
    # rule) and are enforced on EVERY catalog write path as an
    # in-plan per-row guard (_with_check_guards): no second
    # validation scan, the check rides the write's own pass exactly
    # like Delta's write-time invariant enforcement. SQL CHECK
    # semantics: a row violates only when the expression is FALSE —
    # NULL satisfies (ANSI, and Delta's behavior).

    def constraints(self, full_name: str) -> dict:
        """Active CHECK constraints: ``{name: sql_expr}``."""
        return self.definition(full_name).get("constraints", {})

    def add_constraint(self, full_name: str, name: str, expr: str) -> None:
        """Add a named CHECK constraint to an existing table.

        Existing data is validated first (Delta semantics: ADD
        CONSTRAINT scans and fails if any current row violates —
        otherwise the constraint would promise something the table
        already breaks). The scan early-exits on the first violation.
        Future writes through overwrite/overwrite_via_staging/
        overwrite_partitions (and therefore MERGE, DML, ingestion,
        views) enforce it per row inside the write plan."""
        if not self.exists(full_name):
            raise ValueError(
                f"add_constraint: table {full_name} does not exist — "
                "constraints attach to existing tables (create the "
                "table first, Delta ADD CONSTRAINT semantics)"
            )
        cons = self.constraints(full_name)
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists on {full_name} "
                f"(CHECK ({cons[name]})); drop_constraint it first"
            )
        self._validate_constraint(full_name, name, expr)
        self._edit_definition(
            full_name,
            lambda d: d.setdefault("constraints", {}).update({name: expr}),
        )

    def _validate_constraint(
        self, full_name: str, name: str, expr: str
    ) -> None:
        """Fail if any CURRENT row violates the expression (early-exit
        LIMIT 1 scan — Delta ADD CONSTRAINT semantics)."""
        violating = (
            self.read(full_name)
            .where(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if violating:
            raise ValueError(
                f"add_constraint: existing rows of {full_name} "
                f"violate CHECK {name} ({expr}) — clean the data "
                "first (Delta ADD CONSTRAINT fails the same way)"
            )

    def drop_constraint(self, full_name: str, name: str) -> None:
        cons = self.constraints(full_name)
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} on {full_name} "
                f"(have: {sorted(cons) or 'none'})"
            )
        self._edit_definition(
            full_name,
            lambda d: d.setdefault("constraints", {}).pop(name, None),
        )

    def sync_constraints(self, full_name: str, desired: dict) -> dict:
        """Reconcile the table's constraint set to a DECLARED desired
        state (``{name: sql_expr}``) — the metadata-driven entry point
        the ingestors use with the table YAML's ``constraints:`` block:
        undeclared constraints are dropped (the declaration is the
        source of truth — a hand-added constraint on a YAML-managed
        table is removed by the next run, by design), missing ones are
        added, changed expressions are re-validated against current
        data. Validation happens BEFORE anything is written and the
        new set lands in ONE atomic book update, so a rejected or
        crashed sync leaves the previous constraints fully in force —
        never a window where a changed constraint is simply gone.
        No-ops (the common steady state) only read the book.
        Returns ``{"added": [...], "dropped": [...], "changed":
        [...]}``."""
        current = self.constraints(full_name)
        desired = {str(k): str(v) for k, v in desired.items()}
        added = sorted(set(desired) - set(current))
        dropped = sorted(set(current) - set(desired))
        changed = sorted(
            n for n in desired if n in current and current[n] != desired[n]
        )
        if not (added or dropped or changed):
            return {"added": [], "dropped": [], "changed": []}
        for name in (*added, *changed):
            self._validate_constraint(full_name, name, desired[name])
        self.update_definition(full_name, constraints=desired)
        return {"added": added, "dropped": dropped, "changed": changed}

    # --- generated columns (Delta GENERATED ALWAYS AS analogue) ------

    def declared_partition_cols(self, full_name: str) -> list[str] | None:
        """Partition columns DECLARED by column-list DDL (``CREATE
        TABLE t (...) PARTITIONED BY (p)``) before any data exists.
        An empty table has no hive leaf directories to detect a
        layout from, so the declaration waits in the book until the
        first write lays out the tree."""
        return self.definition(full_name).get("partition_by") or None

    def set_declared_partition_cols(
        self, full_name: str, pcols: list[str]
    ) -> None:
        cby = self.declared_cluster_cols(full_name)
        if pcols and cby:
            raise ValueError(
                f"{full_name} declares CLUSTER BY {cby} — a table is "
                "either partitioned or clustered, not both"
            )
        self.update_definition(full_name, partition_by=list(pcols))

    def declared_cluster_cols(self, full_name: str) -> list[str] | None:
        """Clustering columns DECLARED by ``CREATE TABLE ... CLUSTER
        BY (c1, c2)`` (Delta liquid clustering's declaration surface).
        A declaration, not a guarantee: full overwrites lay the data
        out clustered (range-partitioned + sorted, so parquet footers
        carry tight disjoint min/max spans and selective scans skip
        ~(n-1)/n of the files); appends land unclustered and
        ``OPTIMIZE t`` restores the layout — exactly Delta's
        write-then-OPTIMIZE contract."""
        return self.definition(full_name).get("cluster_by") or None

    def set_declared_cluster_cols(
        self, full_name: str, cols: list[str] | None,
        replacing: bool = False,
    ) -> None:
        """Declare (or with ``None``/``[]`` clear) the table's
        clustering columns. Refused on a partitioned table: partition
        directories already hard-split the key space, and Databricks
        makes the same either/or rule. ``replacing=True`` skips that
        old-layout check (ADVICE r13): a CREATE OR REPLACE defines the
        NEW layout, so the still-live old data's hive directories must
        not veto the declaration."""
        cols = list(cols) if cols else None
        if cols:
            pby = self.declared_partition_cols(full_name) or (
                None
                if replacing
                else detect_partition_cols(self.path(full_name))
            )
            if pby:
                raise ValueError(
                    f"{full_name} is partitioned by {pby} — a table "
                    "is either partitioned or clustered, not both"
                )
        if cols != self.declared_cluster_cols(full_name):
            # the clustered-file book certifies the PREVIOUS keys'
            # layout — a changed declaration invalidates it, else a
            # multi-column OPTIMIZE would see every old-layout file
            # as clean and permanently no-op (the book must only ever
            # UNDER-count)
            p = self._clustered_files_path(full_name)
            if os.path.exists(p):
                os.remove(p)
        self.update_definition(full_name, cluster_by=cols)

    def _clustered_files_path(self, full_name: str) -> str:
        return os.path.join(
            self._version_root(full_name), ".clustered_files.json"
        )

    def clustered_files(self, full_name: str) -> set[str]:
        """Basenames of data files KNOWN to carry the declared
        clustered layout — the liquid-clustering "cube" book that
        makes multi-column incremental OPTIMIZE possible (n-D file
        bounding boxes legitimately overlap, so geometric overlap
        detection cannot tell clustered from appended there; Delta
        tracks the same thing as ZCube ids). Self-healing by
        construction: a missing or stale book only UNDER-counts, so
        files are at worst re-clustered once and re-marked — never
        wrongly skipped."""
        p = self._clustered_files_path(full_name)
        if not os.path.exists(p):
            return set()
        with open(p) as fh:
            return set(json.load(fh).get("files", []))

    def _mark_clustered_current(self, full_name: str) -> None:
        """Record the table's CURRENT data files as clustered —
        called after any write that produced the declared layout for
        the whole table (clustered overwrite, full recluster)."""
        names = [
            os.path.basename(p)
            for p in data_files(self.path(full_name))
        ]
        write_json(self._clustered_files_path(full_name), {"files": names})

    def _apply_declared_clustering(
        self, df: DataFrame, full_name: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Clustering-on-write for full overwrites of a CLUSTER BY
        table: one range shuffle + in-partition sort, so every file's
        footer min/max on the cluster keys is tight from the first
        write — the declared cost of the declared layout. Missing
        cluster columns fail by name (a silent skip would quietly
        un-cluster the table for every future scan)."""
        cby = self.declared_cluster_cols(full_name)
        if not cby:
            return df
        if partition_by:
            raise ValueError(
                f"overwrite of {full_name}: partition_by="
                f"{list(partition_by)} conflicts with the declared "
                f"CLUSTER BY {cby} — a table is either partitioned or "
                "clustered; drop one declaration first"
            )
        missing = [c for c in cby if c not in df.columns]
        if missing:
            raise ValueError(
                f"overwrite of {full_name}: declared CLUSTER BY "
                f"columns {missing} not in the frame ({df.columns}) — "
                "drop the declaration (CLUSTER BY NONE) or supply them"
            )
        if len(cby) == 1:
            return df.repartitionByRange(*cby).sortWithinPartitions(
                *cby
            )
        # multi-column declarations cluster on write with the SAME
        # Hilbert layout OPTIMIZE maintains (one bounds aggregate +
        # one range shuffle — the declared cost); a row-free frame
        # (the DDL schema anchor) has no bounds and writes as-is,
        # like Delta's empty-table OPTIMIZE no-op. Every other
        # failure (unsupported column type, all-NULL key) propagates
        # — the declaration cannot be honored and must fail loudly.
        if df.limit(1).count() == 0:
            return df
        from .maintenance import _zorder_frame

        return _zorder_frame(df, cby, 16, None, curve="hilbert")

    def generated_columns(self, full_name: str) -> dict:
        """Active generated-column declarations: ``{col: sql_expr}``."""
        return self.definition(full_name).get("generated", {})

    def set_generated_column(
        self, full_name: str, column: str, expr: str
    ) -> None:
        """Declare ``column GENERATED ALWAYS AS (expr)`` on an existing
        table (Delta generated-column analogue — Delta declares these
        at CREATE; here the declaration attaches to a live table).

        - column NOT yet on the table: a versioned BACKFILL rewrite
          materializes ``expr`` for every existing row (plain parquet
          has no metadata-only column add — same honesty as ALTER
          TABLE ADD COLUMNS);
        - column already on the table: existing rows are VALIDATED
          against ``expr`` first (early-exit scan, add_constraint's
          rule) — a mismatch refuses the declaration.

        From then on, EVERY write path (overwrite, staging swap,
        partition swap, append, and therefore MERGE/DML/ingestion):
        a frame MISSING the column gets it computed in-plan; a frame
        SUPPLYING it is validated per row (Delta's rule: explicit
        values must equal the generation expression), with the same
        raise_error-into-staging economics as CHECK constraints.
        Declared generated columns may be partition columns — the
        common Delta pattern (date GENERATED AS CAST(ts AS DATE),
        PARTITIONED BY date)."""
        if not self.exists(full_name):
            raise ValueError(
                f"set_generated_column: table {full_name} does not exist"
            )
        df = self.read(full_name)
        if column in df.columns:
            bad = (
                df.where(
                    ~F.coalesce(
                        F.col(column).eqNullSafe(F.expr(expr)),
                        F.lit(False),
                    )
                )
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"set_generated_column: existing rows of "
                    f"{full_name} violate {column} = {expr} — fix the "
                    "data (UPDATE) before declaring the generation"
                )
        else:
            pcols = detect_partition_cols(self.path(full_name))
            self.overwrite_via_staging(
                df.withColumn(column, F.expr(expr)),
                full_name,
                partition_by=pcols,
            )
        self._edit_definition(
            full_name,
            lambda d: d.setdefault("generated", {}).update({column: expr}),
        )

    def drop_generated_column(self, full_name: str, column: str) -> None:
        """Remove a generated-column DECLARATION (the physical column
        stays — dropping it is ALTER TABLE DROP COLUMN's job)."""
        gens = self.generated_columns(full_name)
        if column not in gens:
            raise ValueError(
                f"no generated column {column!r} on {full_name} "
                f"(declared: {sorted(gens)})"
            )
        self._edit_definition(
            full_name,
            lambda d: d.setdefault("generated", {}).pop(column, None),
        )

    # --- comments + table properties (COMMENT ON / TBLPROPERTIES) ----

    def table_comment(self, full_name: str) -> str | None:
        return self.definition(full_name).get("comment")

    def set_table_comment(
        self, full_name: str, text: str | None
    ) -> None:
        """COMMENT ON TABLE t IS 'text' (NULL clears). Metadata-only:
        lives in the definition (moves with RENAME, copied by CLONE,
        dropped by CREATE OR REPLACE) — never a data rewrite."""
        if not self.exists(full_name):
            raise ValueError(
                f"COMMENT ON TABLE: {full_name} does not exist"
            )
        self.update_definition(full_name, comment=text)

    def column_comments(self, full_name: str) -> dict:
        return self.definition(full_name).get("columns", {})

    def set_column_comment(
        self, full_name: str, column: str, text: str | None
    ) -> None:
        if not self.exists(full_name):
            raise ValueError(
                f"COMMENT ON COLUMN: {full_name} does not exist"
            )
        cols = self.read(full_name).columns
        if column not in cols:
            raise ValueError(
                f"COMMENT ON COLUMN: {column!r} not in {full_name} "
                f"({cols})"
            )

        def edit(d):
            cc = d.setdefault("columns", {})
            if text is None:
                cc.pop(column, None)
            else:
                cc[column] = text

        self._edit_definition(full_name, edit)

    def table_properties(self, full_name: str) -> dict:
        return self.definition(full_name).get("tblproperties", {})

    def set_table_properties(
        self, full_name: str, props: dict
    ) -> None:
        """ALTER TABLE ... SET TBLPROPERTIES: upsert string key/value
        pairs (Delta's table-properties map — free-form metadata;
        engine behavior is never keyed off these here)."""
        if not self.exists(full_name):
            raise ValueError(
                f"SET TBLPROPERTIES: {full_name} does not exist"
            )
        props = {str(k): str(v) for k, v in props.items()}
        self._edit_definition(
            full_name,
            lambda d: d.setdefault("tblproperties", {}).update(props),
        )

    def unset_table_properties(
        self, full_name: str, keys: list[str], if_exists: bool = False
    ) -> None:
        if not self.exists(full_name):
            raise ValueError(
                f"UNSET TBLPROPERTIES: {full_name} does not exist"
            )
        tp = self.table_properties(full_name)
        missing = [k for k in keys if k not in tp]
        if missing and not if_exists:
            raise ValueError(
                f"UNSET TBLPROPERTIES: {missing} not set on "
                f"{full_name} (have {sorted(tp)}) — use IF EXISTS to "
                "ignore"
            )

        def edit(d):
            tp = d.setdefault("tblproperties", {})
            for k in keys:
                tp.pop(k, None)

        self._edit_definition(full_name, edit)

    # --- identity columns (GENERATED ALWAYS AS IDENTITY) -------------

    def identity_columns(self, full_name: str) -> dict:
        """Active identity declarations: ``{col: {"start", "step",
        "high", "type"}}`` — ``high`` is the last value ever allocated
        (None before the first allocation). It lives in the table's
        book beside the commit section, so RESTORE rolls the DATA back
        but never the counter: restored-then-new inserts cannot reuse
        ids (Delta's identity high-water lives in the log's table
        metadata with the same property)."""
        return self.definition(full_name).get("identity", {})

    def set_identity_column(
        self,
        full_name: str,
        column: str,
        start: int = 1,
        step: int = 1,
    ) -> None:
        """Declare ``column GENERATED ALWAYS AS IDENTITY (START WITH
        start INCREMENT BY step)`` — Delta's other generated-column
        form (the reference's Delta backend exposes it; every
        quickstart table opens with one). From then on every write
        path allocates: a frame MISSING the column gets values for
        every row; a frame CARRYING it keeps non-null values (whole-
        table rewrites — DML, MERGE, DDL backfills — re-stage existing
        rows) and gets fresh values for NULL rows (a MERGE's inserted
        source rows — the surrogate-key CDC pattern). The ALWAYS rule
        (explicit user values refused) is enforced at the statement
        layer, which can tell an INSERT from a rewrite.

        Declared on a table with existing rows, the counter seeds past
        them (``SYNC IDENTITY`` semantics) so new allocations never
        collide."""
        if not self.exists(full_name):
            raise ValueError(
                f"set_identity_column: table {full_name} does not exist"
            )
        if step == 0:
            raise ValueError(
                f"set_identity_column: INCREMENT BY 0 on {column!r} "
                "would allocate the same value forever"
            )
        df = self.read(full_name)
        if column not in df.columns:
            raise ValueError(
                f"set_identity_column: {column!r} not in {full_name} "
                f"({df.columns}) — identity columns are declared typed "
                "in the CREATE TABLE column list"
            )
        dtype = df.schema[column].dataType.simpleString()
        if dtype not in ("bigint", "int", "smallint"):
            raise ValueError(
                f"set_identity_column: {column!r} is {dtype} — "
                "identity columns must be integral (BIGINT/INT)"
            )
        if column in self.generated_columns(full_name):
            raise ValueError(
                f"set_identity_column: {column!r} already has a "
                "GENERATED ALWAYS AS (expr) declaration"
            )
        high = None
        agg = F.max(column) if step > 0 else F.min(column)
        seed = df.agg(agg.alias("m")).first()["m"]
        if seed is not None:
            # seed past existing rows: next = high + step must clear
            # both the declared start and every existing value
            edge = start - step
            high = max(edge, seed) if step > 0 else min(edge, seed)
        spec = {
            "start": int(start),
            "step": int(step),
            "high": high if high is None else int(high),
            "type": dtype,
        }
        self._edit_definition(
            full_name,
            lambda d: d.setdefault("identity", {}).update({column: spec}),
        )

    def drop_identity_column(self, full_name: str, column: str) -> None:
        """Remove an identity DECLARATION (the physical column stays)."""
        book = self.identity_columns(full_name)
        if column not in book:
            raise ValueError(
                f"no identity column {column!r} on {full_name} "
                f"(declared: {sorted(book)})"
            )
        self._edit_definition(
            full_name, lambda d: d.setdefault("identity", {}).pop(column, None)
        )

    def _reserve_identity(
        self, full_name: str, column: str, spec: dict, high: int
    ) -> dict:
        """Move ``column``'s identity high-water to ``high`` in one
        book update (a sibling column's concurrent update is kept);
        returns the updated spec."""
        spec = {**spec, "high": int(high)}

        def edit(d):
            cur = d.setdefault("identity", {}).setdefault(column, spec)
            cur["high"] = spec["high"]

        self._edit_definition(full_name, edit)
        return spec

    def _allocate_identity(
        self, df: DataFrame, full_name: str, column: str, spec: dict
    ) -> DataFrame:
        """Assign fresh identity values — to every row when the frame
        OMITS the column (INSERT/append feeds), or to the NULL rows
        when it carries it (a MERGE's staged union: target rows keep
        their ids, the inserted source rows arrive NULL — the
        surrogate-key CDC pattern) — and RESERVE the range in the book
        first (reserve-then-write: a write that aborts after
        reservation burns its range — Delta's documented 'identity
        values may have gaps' behavior; ids are never reused).

        Distributed allocation without a global sort: one light
        counting pass derives per-partition offsets (one row per
        partition — a bounded collect), then the value is pure
        JVM-side arithmetic over ``monotonically_increasing_id``'s
        (partition, local-rank) encoding — no shuffle of the data, no
        Python in the row path. The frame is locally checkpointed so
        the counting pass and the write see the SAME partitioning
        (the standard zipWithIndex determinism caveat). In fill mode
        every row gets a SLOT (non-null rows burn theirs — a gap, not
        a leak), so the rank needs no per-null renumbering shuffle."""
        fill = column in df.columns
        step, start = spec["step"], spec["start"]
        if fill:
            # The frame is checkpointed BEFORE the probe so the probe,
            # the counting pass, and the final write all share ONE
            # materialization — probing the raw plan would compute the
            # whole rewrite (a DML/MERGE staging frame) once just to
            # prove "no NULLs" and then again for the write. ONE agg
            # reads the NULL count and the carried extremes together.
            df = df.localCheckpoint(eager=False)
            probe = df.agg(
                F.count(
                    F.when(F.col(column).isNull(), F.lit(1))
                ).alias("n_null"),
                F.max(column).alias("mx"),
                F.min(column).alias("mn"),
            ).first()
            carried = probe["mx"] if step > 0 else probe["mn"]
            if carried is not None and (
                spec["high"] is None
                or (step > 0 and carried > spec["high"])
                or (step < 0 and carried < spec["high"])
            ):
                # Delta SYNC IDENTITY semantics: carried values PAST
                # the book (files loaded by copy_into/append with
                # pre-assigned ids) move the high-water, so a later
                # allocation can never mint one of them again.
                # Values at-or-below the book are the normal staged-
                # union CDC pattern (previously allocated) — no-op.
                spec = self._reserve_identity(
                    full_name, column, spec, carried
                )
            if probe["n_null"] == 0:
                return df
        base = spec["high"]
        if base is None:
            base = start - step
        if not fill:
            df = df.localCheckpoint(eager=False)
        mid = F.monotonically_increasing_id()
        tagged = df.withColumn("__id_mid", mid)
        # mid = (partitionId << 33) | rowInPartition — one count per
        # partition, collected to the driver (bounded by #partitions)
        counts = (
            tagged.groupBy(
                F.shiftright("__id_mid", 33).alias("__id_pid")
            )
            .count()
            .collect()
        )
        if not counts:
            return (
                df
                if fill
                else df.withColumn(
                    column, F.lit(None).cast(spec["type"])
                )
            )
        offsets, acc = [], 0
        for r in sorted(counts, key=lambda r: r["__id_pid"]):
            offsets.append((r["__id_pid"], acc))
            acc += r["count"]
        off_df = self.spark.createDataFrame(
            offsets, "__id_pid bigint, __id_off bigint"
        )
        fresh = (
            F.lit(base)
            + F.lit(step)
            * (
                F.col("__id_off")
                + (F.col("__id_mid").bitwiseAND(F.lit((1 << 33) - 1)))
                + F.lit(1)
            )
        ).cast(spec["type"])
        value = F.coalesce(F.col(column), fresh) if fill else fresh
        out = (
            tagged.join(
                F.broadcast(off_df),
                F.shiftright("__id_mid", 33) == F.col("__id_pid"),
                "left",
            )
            .withColumn(column, value)
            .drop("__id_mid", "__id_pid", "__id_off")
        )
        # the reserved range must FIT the declared column type — a
        # non-ANSI cast would silently wrap an overflowing int/
        # smallint into negative "unique" ids (Delta raises here too)
        _INT_RANGE = {
            "tinyint": (-(1 << 7), (1 << 7) - 1),
            "smallint": (-(1 << 15), (1 << 15) - 1),
            "int": (-(1 << 31), (1 << 31) - 1),
            "integer": (-(1 << 31), (1 << 31) - 1),
        }
        lo, hi = _INT_RANGE.get(
            str(spec["type"]).lower(), (-(1 << 63), (1 << 63) - 1)
        )
        end = base + step * acc
        if not (lo <= end <= hi):
            raise ValueError(
                f"identity column {column!r} on {full_name}: "
                f"allocating {acc} value(s) would reach {end}, past "
                f"the {spec['type']} range [{lo}, {hi}] — the type is "
                "exhausted (every write burns one slot per row; "
                "declare BIGINT for surrogate keys)"
            )
        # reserve BEFORE the write lands
        self._reserve_identity(full_name, column, spec, end)
        return out

    def _with_generated(self, df: DataFrame, full_name: str) -> DataFrame:
        """Apply generated-column semantics to a to-be-written frame:
        missing declared columns are computed in-plan; supplied ones
        gain a per-row equality guard (raise_error on divergence —
        same codegen economics as the CHECK guard). Identity columns
        allocate when omitted and carry when present (see
        set_identity_column for where the ALWAYS rule lives)."""
        idents = self.identity_columns(full_name)
        for column in sorted(idents):
            df = self._allocate_identity(
                df, full_name, column, idents[column]
            )
        gens = self.generated_columns(full_name)
        for column in sorted(gens):
            expr = gens[column]
            if column not in df.columns:
                df = df.withColumn(column, F.expr(expr))
            else:
                ok = F.coalesce(
                    F.col(column).eqNullSafe(F.expr(expr)), F.lit(False)
                )
                guard = F.when(
                    ~ok,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"generated column {column} = {expr} "
                                f"violated on write to {full_name} "
                                "by row "
                            ),
                            F.substring(
                                F.to_json(F.struct(*df.columns)), 1, 256
                            ),
                        )
                    ),
                ).otherwise(F.lit(True))
                df = df.filter(guard)
        return df

    def _with_check_guards(
        self, df: DataFrame, full_name: str,
        skip_generated: bool = False,
    ) -> DataFrame:
        """Wrap a to-be-written frame with per-row CHECK enforcement
        (and, first, generated-column computation/validation — every
        write path calls this, so both contracts ride every write).
        ``skip_generated`` is for callers that ALREADY ran
        _with_generated on this frame (append applies it before its
        strict column-set check): re-running would localCheckpoint
        and fully re-materialize every identity batch a second time
        just to re-prove "no NULLs".

        One filter whose predicate is TRUE for every conforming row
        and raise_error() for a violator — whole-stage-codegen
        evaluates it inline during the write's single pass (the
        raise_error branch, including the to_json row rendering, is
        only evaluated ON violation). The failed write aborts into
        its staging directory, so the live table is never left
        half-written with violating rows."""
        if not skip_generated:
            df = self._with_generated(df, full_name)
        cons = self.constraints(full_name)
        if not cons:
            return df
        from pyspark.sql import functions as F

        guard = None
        for cname in sorted(cons):
            expr = cons[cname]
            ok = F.coalesce(F.expr(expr), F.lit(True))
            clause = F.when(
                ~ok,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"CHECK constraint {cname} ({expr}) "
                            f"violated on write to {full_name} by row "
                        ),
                        F.substring(
                            F.to_json(F.struct(*df.columns)), 1, 256
                        ),
                    )
                ),
            ).otherwise(F.lit(True))
            guard = clause if guard is None else (guard & clause)
        return df.filter(guard)

    def overwrite_partitions(
        self,
        df: DataFrame,
        full_name: str,
        partition_col: str | list[str],
        values: list,
    ) -> None:
        """Rewrite ONLY the named partitions (Delta ``replaceWhere`` /
        dynamic-partition-overwrite analogue): ``df`` must contain
        exactly the replacement rows for those partitions. Untouched
        partition directories are never read or written.

        ``partition_col`` may be a LIST for hierarchically partitioned
        tables (date, region — the real 100 TB CDC layout); ``values``
        is then a list of tuples addressing touched LEAF partitions,
        and the swap replaces leaf directories only — sibling leaves
        under a touched first-level directory survive byte-identical.

        A blind write (no OCC token), staged then committed by
        :meth:`_publish`: a failed staging write (e.g. a CHECK guard
        firing) commits nothing; otherwise, under the publish lock,
        the pre-state is retained as a hardlink snapshot (when
        ``keep_versions > 0``), the staged leaves replace the live
        ones, and one book update records the commit. Atomicity is
        PER PARTITION (each swap is one directory rename): a crash
        mid-loop leaves some partitions new and some old — re-running
        the same rewrite converges, but readers in the window can see
        a mixed state. A cross-partition-atomic rewrite needs a table
        format with a transaction log (the Delta path) or the full
        staging swap of overwrite_via_staging."""
        pcols = (
            [partition_col]
            if isinstance(partition_col, str)
            else list(partition_col)
        )
        _check_no_null_partition_values(pcols, values)
        staged = self._with_check_guards(df, full_name).filter(
            partition_predicate(pcols, values)
        )
        staging = self._stage(staged, full_name, "__pstaging", pcols)
        # Every LEAF partition directory the write produced (Spark owns
        # the value→dirname encoding; a merge never empties a
        # partition, so staging covers all touched values with rows).
        self._publish(
            full_name, staging, leaves=_raw_leaf_dirs(staging, pcols),
            schema=staged.schema,
        )

    def restore(
        self,
        full_name: str,
        *,
        version: int | str | None = None,
        steps_back: int | None = None,
    ) -> None:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF`` analogue:
        promote a retained snapshot back to live. Like Delta, restore
        is itself a versioned operation — the CURRENT state is
        snapshotted first (so a mistaken restore is one more restore
        away from undone) and the source snapshot STAYS retained and
        addressable (restore copies, never consumes).

        The "copy" is hardlinks (``os.link`` per file): snapshot and
        warehouse share a filesystem by construction, and table files
        are immutable in this catalog — every write path replaces
        whole directories, nothing appends in place — so linked files
        can never diverge. Restore cost is therefore O(#files)
        metadata ops, not O(bytes), same economics as the rename-only
        snapshots. ``keep_versions`` pruning still applies — restoring
        retires the oldest snapshots beyond the retention bound — but
        NEVER the restore source itself: the commit pins it, so a
        source that is the oldest at capacity stays (its directory and
        commit time untouched), leaving keep_versions+1 retained until
        the next snapshot event. A blind write (no OCC token).
        """
        if (version is None) == (steps_back is None):
            raise ValueError("pass exactly one of version= / steps_back=")
        vs = self.versions(full_name)
        if version is not None:
            label = version if isinstance(version, str) else f"v{version:08d}"
            if label not in vs:
                raise ValueError(
                    f"{full_name}: version {version!r} not retained "
                    f"(have {vs or 'none'})"
                )
        else:
            if steps_back < 1 or steps_back > len(vs):
                raise ValueError(
                    f"{full_name} retains {len(vs)} version(s); "
                    f"steps_back={steps_back} unavailable"
                )
            label = vs[-steps_back]
        staging = self.path(full_name) + "__staging"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.copytree(
            os.path.join(self._version_root(full_name), label),
            staging,
            copy_function=os.link,
        )
        self._publish(
            full_name, staging, pin=label,
            schema=self._committed_schema(full_name, label),
        )

    def clone(
        self,
        src_name: str,
        dst_name: str,
        *,
        shallow: bool = True,
        version: int | str | None = None,
    ) -> None:
        """Delta ``CREATE TABLE ... CLONE`` analogue: materialize an
        independent table from a source table (or one of its retained
        versions). ``shallow=True`` hardlinks the files — O(#files)
        metadata ops, the Delta SHALLOW CLONE economics — which is
        safe here for the same reason restore's hardlinks are: table
        files are immutable in this catalog (every write path replaces
        whole directories), so linked inodes can never diverge, and
        any later overwrite of either table swaps its directory
        without touching the other's links. ``shallow=False`` copies
        bytes (DEEP CLONE — survives deleting the source warehouse's
        filesystem entries AND vacuum-driven reclaim accounting).

        The clone starts with NO version history of its own (Delta
        semantics: a clone is a new table whose history begins at the
        clone) and must not already exist — CLONE is CREATE, not
        REPLACE; overwrite the destination explicitly if that is what
        you mean. Like vacuum, clone must not race a concurrent
        overwrite of the SOURCE table: the staged directory swap can
        replace files mid-copytree. Clone from a retained version
        (``version=``) when writers are live — snapshots are
        immutable by construction."""
        if self.exists(dst_name):
            raise ValueError(
                f"clone destination {dst_name} already exists — "
                "CLONE creates a new table; drop it or overwrite "
                "explicitly"
            )
        if os.path.isdir(self.path(dst_name)):
            # A leftover directory that is NOT a table (only _SUCCESS/
            # dot files — an interrupted write's husk) passes the
            # exists() probe above but would turn the final
            # os.replace into a cryptic ENOTEMPTY (ADVICE r9). Name
            # the state and the fix instead.
            raise ValueError(
                f"clone destination path {self.path(dst_name)} exists "
                "but holds no data files (a leftover from an "
                "interrupted write?) — remove it (catalog.drop("
                f"{dst_name!r})) and re-run the clone"
            )
        if version is not None:
            label = version if isinstance(version, str) else f"v{version:08d}"
            if label not in self.versions(src_name):
                raise ValueError(
                    f"{src_name}: version {version!r} not retained "
                    f"(have {self.versions(src_name) or 'none'})"
                )
            src = os.path.join(self._version_root(src_name), label)
        else:
            if not self.exists(src_name):
                raise ValueError(f"clone source {src_name} does not exist")
            src, label = self.path(src_name), None
        schema = self._committed_schema(src_name, label)
        staging = self.path(dst_name) + "__staging"
        shutil.rmtree(staging, ignore_errors=True)
        copy_fn = os.link if shallow else shutil.copy2
        shutil.copytree(src, staging, copy_function=copy_fn)
        # a clone carries the source's definition (Delta clone copies
        # table metadata: constraints, generated columns, identity
        # WITH its high-water so ids minted on the clone continue past
        # the source's counter, comments, TBLPROPERTIES, declared
        # layout) — but never its history (above), and not a view
        # definition: a clone is a table
        definition = self.definition(src_name)
        definition.pop("mview", None)
        self._update_book(
            dst_name, lambda b: b.update(definition=definition)
        )
        # liquid-clustering file book: clone copies the tree with
        # identical file names, so the marks stay valid
        if os.path.exists(self._clustered_files_path(src_name)):
            shutil.copy2(
                self._clustered_files_path(src_name),
                self._clustered_files_path(dst_name),
            )
        self._publish(dst_name, staging, schema=schema)

    def vacuum(
        self,
        full_name: str,
        keep: int | None = None,
        *,
        retain_hours: float | None = None,
        staging_grace_seconds: float = 3600.0,
        dry_run: bool = False,
    ) -> int:
        """Delta ``VACUUM`` analogue: drop retained version snapshots
        beyond ``keep`` (default: this catalog's ``keep_versions``)
        plus any orphaned ``__staging``/``__pstaging`` leftovers from
        interrupted writes. Returns bytes freed (hardlinked files
        still referenced by the live table or another snapshot free
        nothing until their last reference goes — the returned number
        counts only inodes whose link count this removal exhausts, so
        it is the true disk reclaim, same contract as Delta's vacuum
        log line).

        Staging dirs written to within ``staging_grace_seconds`` are
        NOT treated as orphans (ADVICE r8): a concurrent
        overwrite_via_staging / overwrite_partitions micro-batch on
        the same table would otherwise lose its in-flight output —
        the same retention-window discipline as Delta VACUUM's
        default. Pass 0 to force-clean known-dead staging dirs.

        ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``): report the
        bytes the vacuum WOULD reclaim without deleting anything —
        the same weighing walk, no rmtree. One honest corner: an
        inode hardlink-shared by SEVERAL stale snapshots frees on the
        real run's last removal, but a dry run sees link count > 1 on
        every walk and undercounts it."""
        if retain_hours is not None:
            # Delta ``VACUUM ... RETAIN n HOURS``: keep every snapshot
            # whose COMMIT time (the explicit r12 stamp — not a dir
            # mtime) is inside the window. Commit times are monotonic
            # with version numbers, so this reduces to a count for
            # the positional retire loop below.
            if keep is not None:
                raise ValueError(
                    "vacuum: pass keep= or retain_hours=, not both"
                )
            if retain_hours < 0:
                raise ValueError("retain_hours must be >= 0")
            import time as _time

            cutoff = _time.time() - retain_hours * 3600.0
            keep = sum(
                1
                for label in self.versions(full_name)
                if self._snapshot_commit_time(full_name, label) >= cutoff
            )
        keep = self.keep_versions if keep is None else keep
        if keep < 0:
            raise ValueError("keep must be >= 0")
        freed = 0

        def _weigh(root: str) -> int:
            total = 0
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    if st.st_nlink <= 1:
                        total += st.st_size
            return total

        vs = self.versions(full_name)
        for stale in vs[: max(0, len(vs) - keep)]:
            p = os.path.join(self._version_root(full_name), stale)
            freed += _weigh(p)
            if not dry_run:
                shutil.rmtree(p, ignore_errors=True)
        import time

        staging_dirs = [
            self.path(full_name) + suffix
            for suffix in _STAGING_SUFFIXES
        ]
        # a crashed snapshot() leaves its hardlink staging in the
        # version root — same orphan contract, same grace window
        staging_dirs.append(
            os.path.join(self._version_root(full_name), ".snap_staging")
        )
        for p in staging_dirs:
            if os.path.isdir(p):
                # Newest mtime anywhere in the tree: an in-flight
                # Spark write touches nested task dirs, not
                # necessarily the top-level staging dir.
                newest = os.stat(p).st_mtime
                for dirpath, _dirs, files in os.walk(p):
                    newest = max(newest, os.stat(dirpath).st_mtime)
                    for f in files:
                        newest = max(
                            newest,
                            os.stat(os.path.join(dirpath, f)).st_mtime,
                        )
                if time.time() - newest < staging_grace_seconds:
                    continue  # possibly in-flight — not an orphan yet
                freed += _weigh(p)
                if not dry_run:
                    shutil.rmtree(p, ignore_errors=True)
        return freed

    # --- table statistics / detail ----------------------------------

    def _data_file_fingerprint(self, full_name: str) -> dict:
        """Compact identity of the live data-file set: count, total
        bytes, and an md5 over the sorted (relpath, size, mtime_ns)
        triples — the digest is what makes staleness detection sound
        (Spark part names carry per-write UUIDs, so ANY rewrite
        changes it, even one that happens to preserve count and total
        bytes). Hidden files AND hidden directories are pruned — a
        Delta table's _delta_log (commit JSONs, checkpoints) is
        metadata, not data. Pure directory walk; no file is opened."""
        import hashlib

        root = self.path(full_name)
        entries = []
        total = 0
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
                )
                total += st.st_size
        digest = hashlib.md5(
            repr(sorted(entries)).encode()
        ).hexdigest()
        return {
            "num_files": len(entries),
            "size_bytes": total,
            "digest": digest,
        }

    def _stats_path(self, full_name: str) -> str:
        return os.path.join(self._version_root(full_name), ".stats.json")

    def analyze(self, full_name: str, approx: bool = True) -> dict:
        """``ANALYZE TABLE t COMPUTE STATISTICS FOR ALL COLUMNS``
        analogue: ONE pass over the table (operators/profile.py:
        profile_table — every column's null count, distinct estimate
        and numeric min/max as sibling aggregates of a single hash
        aggregate, HLL++ by default so there is no Expand fan-out),
        persisted beside the version counter with the live file-set
        fingerprint. describe_detail() and planners then read row
        counts and NDVs without touching the data — and can SEE when
        the stats predate the current files. Returns the stats dict."""
        from .operators.profile import profile_table

        if not self.exists(full_name):
            raise ValueError(f"analyze: table {full_name} does not exist")
        # fingerprint BEFORE the scan: a write landing mid-profile then
        # makes the stats STALE (fingerprints differ), never wrongly
        # fresh — the fail-safe direction
        fingerprint = self._data_file_fingerprint(full_name)
        rows = profile_table(self.read(full_name), approx=approx).collect()
        import time

        stats = {
            "computed_at": time.time(),
            "approx": approx,
            "fingerprint": fingerprint,
            "n_rows": int(rows[0]["n_rows"]) if rows else 0,
            "columns": {
                r["column"]: {
                    "n_null": int(r["n_null"]),
                    "n_distinct": int(r["n_distinct"]),
                    "min_value": r["min_value"],
                    "max_value": r["max_value"],
                }
                for r in rows
            },
        }
        write_json(self._stats_path(full_name), stats)
        return stats

    def table_stats(
        self, full_name: str, _fingerprint: dict | None = None
    ) -> dict | None:
        """Persisted ANALYZE output plus ``"fresh"``: whether the live
        file set still matches the fingerprint the stats were computed
        against (an overwrite/merge/DML/append since then flips it —
        the digest covers file names, so even a same-size rewrite is
        caught). None if the table was never analyzed.
        ``_fingerprint`` lets describe_detail reuse its own walk."""
        p = self._stats_path(full_name)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            stats = json.load(fh)
        if _fingerprint is None:
            _fingerprint = self._data_file_fingerprint(full_name)
        stats["fresh"] = stats.get("fingerprint") == _fingerprint
        return stats

    def describe_detail(self, full_name: str) -> dict:
        """``DESCRIBE DETAIL`` analogue: one metadata-only dict —
        location, format, file count/bytes, partition columns
        (detected from the layout), retained versions, constraints,
        and the persisted row count when stats are fresh (None when
        stale or never analyzed — an honest "don't know" beats a
        wrong cached number)."""
        if not self.exists(full_name):
            raise ValueError(
                f"describe_detail: table {full_name} does not exist"
            )
        fp = self._data_file_fingerprint(full_name)
        stats = self.table_stats(full_name, _fingerprint=fp)
        return {
            "name": full_name,
            "location": self.path(full_name),
            "format": self.fmt,
            "num_files": fp["num_files"],
            "size_bytes": fp["size_bytes"],
            "partition_columns": detect_partition_cols(
                self.path(full_name)
            )
            or [],
            "clustering_columns": self.declared_cluster_cols(
                full_name
            )
            or [],
            "num_versions": len(self.versions(full_name)),
            "constraints": self.constraints(full_name),
            "generated_columns": self.generated_columns(full_name),
            "num_rows": (
                stats["n_rows"] if stats and stats["fresh"] else None
            ),
        }

    def _invalidate(
        self,
        full_name: str,
        stamp: bool = True,
        snapshots: dict | None = None,
        txn: tuple[str, int] | None = None,
        schema=_KEEP,
    ) -> None:
        """Drop cached file listings for a rewritten path — Spark's
        shared FileStatusCache otherwise serves stale part-file lists
        to later scans of the same location — then record the commit.
        Every write path ends here after its data swap, so this is its
        ONE book update, carrying together: the live commit time
        (stamped here — including the partitioned appends and leaf
        swaps that never touch the root dir mtime, ADVICE r11), the
        ``{label: commit time}`` snapshots it put aside (which also
        raise the version high-water, and keep the schema the
        put-aside state was committed with), its append ``txn`` as
        ``(id, rows)`` and the committed ``schema`` (a ``StructType``;
        None forgets the recorded one; by default it stays). A crash
        before this update leaves the data swapped and the snapshot
        directory in place: reads see the new rows (by inference, as
        the recorded schema names the old directory) and
        :meth:`_next_version` numbers past the directory.

        ``stamp=False`` is for operations that change WHERE the bytes
        live but not WHEN they were committed (RENAME, snapshot()):
        stamping there would move the commit time that just moved with
        the version root, so ``TIMESTAMP AS OF`` an instant between the
        last data write and the rename would resolve to an older
        retained snapshot instead of the live state (ADVICE r12)."""
        import time

        path = self.path(full_name)
        self.spark.catalog.refreshByPath(path)
        stamp = stamp and os.path.isdir(path)
        if not (stamp or snapshots or txn or schema is not _KEEP):
            return
        if stamp:
            now = self.clock() if self.clock is not None else time.time()
        live = set(self.versions(full_name)) if snapshots else set()
        if schema is not _KEEP and schema is not None:
            schema = self._schema_record(path, schema)
        kept = {}
        if snapshots:
            # a put-aside state keeps the live record if it was the
            # live directory's: renamed aside whole, or hardlinked from
            # the live directory that a leaf or file swap keeps
            rec = self._book(full_name).get("commit", {}).get("schema")
            inos = {os.stat(path).st_ino} if os.path.isdir(path) else set()
            for label in snapshots:
                d = os.path.join(self._version_root(full_name), label)
                ino = os.stat(d).st_ino if os.path.isdir(d) else None
                if rec and ino is not None and rec["ino"] in inos | {ino}:
                    kept[label] = {**rec, "ino": ino}

        def edit(book):
            c = book.setdefault("commit", {})
            if stamp:
                c["time"] = float(now)
            if snapshots:
                c["hwm"] = max(
                    [c.get("hwm", 0)] + [int(k[1:]) for k in snapshots]
                )
                merged = {**c.get("snapshots", {}), **snapshots}
                c["snapshots"] = {
                    k: v for k, v in merged.items() if k in live
                }
                merged = {**c.get("version_schemas", {}), **kept}
                c["version_schemas"] = {
                    k: v for k, v in merged.items() if k in live
                }
            if schema is None:
                c.pop("schema", None)
            elif schema is not _KEEP:
                c["schema"] = schema
            if txn:
                c.setdefault("append_txns", {})[txn[0]] = txn[1]

        self._update_book(full_name, edit)

    def rename_table(self, src_name: str, dst_name: str) -> None:
        """ALTER TABLE ... RENAME TO: two directory renames (data dir
        + version root, which carries history and the table's book —
        everything definition-scoped), so
        the operation is metadata-speed at any size. Refuses an
        occupied destination (table or stored view). Lazy views that
        referenced the old name keep their SQL text and simply fail to
        resolve until re-pointed — same as Databricks."""
        if not self.exists(src_name):
            raise ValueError(
                f"RENAME TABLE: {src_name} does not exist"
            )
        if self.exists(dst_name) or dst_name in self.stored_views():
            raise ValueError(
                f"RENAME TABLE: destination {dst_name} already exists"
            )
        if src_name in self.stored_views():
            raise ValueError(
                f"RENAME TABLE: {src_name} is a stored VIEW — "
                "re-declare it under the new name instead"
            )
        dst = self.path(dst_name)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(self.path(src_name), dst)
        if os.path.isdir(self._version_root(src_name)):
            os.replace(
                self._version_root(src_name),
                self._version_root(dst_name),
            )
        self._invalidate(src_name)
        # Metadata-only: the commit time moved with the book and still
        # names the last DATA write — do not overwrite it with the
        # rename time (ADVICE r12).
        self._invalidate(dst_name, stamp=False)

    def drop(self, full_name: str) -> None:
        shutil.rmtree(self.path(full_name), ignore_errors=True)
        shutil.rmtree(self._version_root(full_name), ignore_errors=True)
        self._invalidate(full_name)

    def truncate(self, full_name: str) -> None:
        """TRUNCATE TABLE analogue (reference lib/checker_handler.py:119)."""
        self.drop(full_name)

    def list_tables(self) -> list[str]:
        """All ``catalog.schema.table`` names present in the warehouse."""
        out = []
        if not os.path.isdir(self.warehouse):
            return out
        for cat in sorted(os.listdir(self.warehouse)):
            cdir = os.path.join(self.warehouse, cat)
            if not os.path.isdir(cdir):
                continue
            for sch in sorted(os.listdir(cdir)):
                sdir = os.path.join(cdir, sch)
                if not os.path.isdir(sdir):
                    continue
                for tbl in sorted(os.listdir(sdir)):
                    if tbl.startswith("."):     # version snapshots etc.
                        continue
                    if tbl.endswith(_STAGING_SUFFIXES):
                        continue  # crashed-write husk, never a table
                    name = f"{cat}.{sch}.{tbl}"
                    if self.exists(name):
                        out.append(name)
        return out

    def _views_book_path(self) -> str:
        return os.path.join(self.warehouse, ".views.json")

    def stored_views(self) -> dict[str, str]:
        """Lazy (non-materialized) view definitions: {dotted name:
        SELECT sql}. Unlike MaterializedView these hold NO data — the
        SQL re-resolves against the live base tables on every read
        (Databricks CREATE VIEW semantics), via register_all."""
        p = self._views_book_path()
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def create_stored_view(
        self, full_name: str, sql: str, replace: bool = False
    ) -> None:
        # Statement references resolve THREE-part names only (the
        # Unity-Catalog dialect shim in register_referenced /
        # rewrite_table_refs): a view stored under a 1- or 2-part name
        # could be created but never referenced — fail at creation
        # with the fix, not at first use with unresolved-name noise
        # (ADVICE r12).
        if len(full_name.split(".")) != 3:
            raise ValueError(
                f"CREATE VIEW: {full_name!r} — stored view names must "
                "be three-part catalog.schema.view; statements resolve "
                "three-part references only, so a shorter name would "
                "be invisible to every query"
            )
        split_name(full_name)  # validates the three-part shape
        if self.exists(full_name):
            raise ValueError(
                f"CREATE VIEW: {full_name} is a stored TABLE — views "
                "and tables share the namespace"
            )
        book = self.stored_views()
        if full_name in book and not replace:
            raise ValueError(
                f"CREATE VIEW: {full_name} already exists — use "
                "CREATE OR REPLACE VIEW to redefine it"
            )
        book[full_name] = sql
        write_json(self._views_book_path(), book)

    def drop_stored_view(self, full_name: str) -> None:
        book = self.stored_views()
        if full_name not in book:
            raise ValueError(
                f"DROP VIEW: {full_name} is not a stored view"
            )
        del book[full_name]
        write_json(self._views_book_path(), book)

    def register_referenced(self, sql: str) -> dict[str, str]:
        """:meth:`register_all` restricted to dotted names the
        statement TEXT references (plus, transitively, names that
        referenced stored views' bodies reference). Registration
        costs one schema resolution per table, so a 100-table
        warehouse must not pay 100 of them for a one-table INSERT —
        at the 100 TB design point the statement rate times the
        table count makes register_all the dominant metadata cost.
        Falls back to everything only in the degenerate no-reference
        case (e.g. ``VALUES`` bodies), which costs nothing extra
        because there is nothing to register."""
        import re as _re

        pat = _re.compile(
            r"[A-Za-z_][\w]*\.[A-Za-z_][\w]*\.[A-Za-z_][\w]*"
        )
        views = self.stored_views()
        wanted: set[str] = set()
        texts = [sql.replace("`", "")]
        seen_texts = 0
        while texts and seen_texts < 50:  # view-chain bound
            seen_texts += 1
            t = texts.pop()
            for name in set(pat.findall(t)):
                if name in wanted:
                    continue
                if name in views:
                    wanted.add(name)
                    texts.append(views[name].replace("`", ""))
                elif self.exists(name):
                    wanted.add(name)
        mapping = {
            t: self.register_view(t)
            for t in sorted(wanted)
            if t not in views
        }
        pending = {n: views[n] for n in wanted if n in views}
        if not pending:
            return mapping
        from .plans.qualify import run_sql

        for _ in range(len(pending) + 1):
            progressed = False
            for name, body in list(pending.items()):
                try:
                    frame = run_sql(
                        self.spark, body, table_mapping=mapping
                    )
                except Exception:
                    continue
                vname = "_".join(split_name(name))
                frame.createOrReplaceTempView(vname)
                mapping[name] = vname
                del pending[name]
                progressed = True
            if not progressed:
                break
        return mapping

    def register_all(self) -> dict[str, str]:
        """Register every warehouse table as a temp view; returns
        {full_name: view_name}. Used with plans.rewrite_table_refs so
        reference-dialect SQL naming ``bronze.brapi.tickers``
        (reference silver/prices/prices.sql:12) resolves on OSS
        Spark's single-catalog namespace.

        Stored LAZY views resolve after the tables (and after each
        other — the fixpoint loop handles views over views), so their
        dotted names work in any statement; each re-plans against the
        live bases, which is exactly what distinguishes a VIEW from a
        MATERIALIZED VIEW here. A broken view never blocks unrelated
        statements: it just stays unregistered (its own read then
        fails with the ordinary unresolved-name error)."""
        mapping = {t: self.register_view(t) for t in self.list_tables()}
        pending = self.stored_views()
        if not pending:
            return mapping
        from .plans.qualify import run_sql

        for _ in range(len(pending) + 1):
            progressed = False
            for name, sql in list(pending.items()):
                try:
                    frame = run_sql(
                        self.spark, sql, table_mapping=mapping
                    )
                except Exception:
                    continue
                vname = "_".join(split_name(name))
                frame.createOrReplaceTempView(vname)
                mapping[name] = vname
                del pending[name]
                progressed = True
            if not progressed:
                break
        return mapping

    def register_view(self, full_name: str, view_name: str | None = None) -> str:
        """Expose a stored table to Spark SQL as a temp view.

        The reference's SQL refers to ``bronze.brapi.tickers`` etc.
        (reference silver/prices/prices.sql:12); callers can register
        under a flattened alias for OSS Spark SQL.
        """
        name = view_name or "_".join(split_name(full_name))
        self.read(full_name).createOrReplaceTempView(name)
        return name
