"""Table maintenance: compaction + bucketed layouts.

[extension, 100 TB hardening] The reference has no maintenance story
(Databricks OPTIMIZE does it for them — SURVEY.md §7 M6). On plain
parquet warehouses two jobs matter:

- ``compact``: streaming/CDC ingestion accretes small files; a scan's
  task count (and scheduler pressure) follows file count, not bytes.
  Rewrite a table into ~``target_file_bytes`` files per partition.

- ``write_bucketed`` / co-located joins: two big fact tables joined
  repeatedly on the same key should be bucketed on that key — the
  sort-merge join then reads matching buckets with NO shuffle on
  either side (verified by plan assertion in tests). This is the
  parquet-warehouse analogue of Delta's OPTIMIZE ZORDER + bucketing.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import Catalog


def file_sizes(catalog: Catalog, full_name: str) -> list[int]:
    """Data-file sizes of a table, from the filesystem listing —
    metadata scale (one stat per file), no Spark job."""
    from .catalog import data_files

    return [
        os.path.getsize(p)
        for p in data_files(catalog.path(full_name))
    ]


def table_bytes(catalog: Catalog, full_name: str) -> int:
    return sum(file_sizes(catalog, full_name))


def compact(
    catalog: Catalog,
    full_name: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    skew_threshold: float = 4.0,
) -> int:
    """Rewrite a table into ⌈bytes/target⌉ files; returns file count.

    Uniform layouts take the no-shuffle fast path: ``coalesce`` only
    unions adjacent input partitions, so when the inputs are uniformly
    small the merged outputs land near ``target_file_bytes`` for free.
    But coalesce can never SPLIT an input — one 10 GB file stays one
    task and one 10 GB output file — so a skewed layout coalesced
    stays skewed. The input file listing (metadata scale, no Spark
    job) is probed first: if the largest file exceeds
    ``skew_threshold`` × the mean, the rewrite switches to
    ``repartition(n_files)``, paying one round-robin shuffle to get
    balanced output files (the probe is the same fail-fast shape as
    ``merge_upsert_partitioned``'s partition probe, operators/
    merge.py).
    """
    df = catalog.read(full_name)
    sizes = file_sizes(catalog, full_name)
    total = sum(sizes)
    n_files = max(1, -(-total // target_file_bytes))
    skewed = (
        len(sizes) > 1
        and max(sizes) > skew_threshold * (total / len(sizes))
    )
    out = df.repartition(n_files) if skewed else df.coalesce(n_files)
    # compaction permutes files, never rows — sync markers stay valid
    catalog.overwrite_via_staging(
        out, full_name, partition_by=partition_by, carry_markers=True
    )
    return n_files


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (+sorted) managed table. Joins between
    tables bucketed identically on the join key skip the shuffle."""
    # A fresh in-memory catalog can collide with a leftover managed
    # location from a previous session — clear both.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    leftover = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(leftover):
        import shutil

        shutil.rmtree(leftover, ignore_errors=True)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
) -> None:
    """Range-cluster a table on ``cluster_by`` before writing: global
    range repartition (each output file owns a contiguous, mostly
    disjoint key range) + within-file sort (each parquet row group's
    min/max stats are tight). The plain-parquet analogue of Delta's
    OPTIMIZE ZORDER for the single-column case.

    Why it matters at 100 TB: parquet scans skip whole row groups when
    the pushed filter falls outside the group's min/max. On a randomly
    laid-out table every group's range spans the whole domain and
    nothing skips; after clustering, a selective range/point filter
    reads ~1/n_files of the bytes. The effect is asserted from the
    parquet footers themselves in tests (file ranges disjoint), not
    just from wall clock."""
    part = (
        df.repartitionByRange(n_files, *cluster_by)
        if n_files
        else df.repartitionByRange(*cluster_by)
    )
    part.sortWithinPartitions(*cluster_by).write.mode(
        "overwrite"
    ).parquet(path)


def _zorder_surrogate(df: DataFrame, col: str) -> Column:
    """A LONG-valued, order-preserving surrogate for a ZORDER column —
    Delta's OPTIMIZE ZORDER BY accepts date/timestamp/string keys (the
    most common clustering columns: event dates, ids), so the Morton
    interleave maps them onto the long domain it needs instead of
    refusing:

    - numeric / boolean → plain ``cast('long')``
    - date → days since epoch, timestamp → epoch seconds (both are
      what ``cast('long')`` would NULL out)
    - string → the first 7 UTF-8 bytes as a big-endian integer
      (hex is monotone per byte; 7 bytes keep the key inside the
      63 value bits of a signed long). Prefix resolution is exactly
      what clustering needs — strings sharing a 7-byte prefix land in
      the same Z-cell, which is the right locality.

    Unsupported types (binary, arrays, structs, maps) raise by name.
    """
    dt = dict(df.dtypes).get(col)
    if dt is None:
        raise ValueError(f"zorder: column {col!r} not in {df.columns}")
    if dt == "date":
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("long")
    if dt.startswith("timestamp"):
        return F.col(col).cast("long")
    if dt in ("string", "varchar", "char") or dt.startswith(
        ("varchar(", "char(")
    ):
        hex7 = F.rpad(
            F.substring(F.hex(F.encode(F.col(col), "UTF-8")), 1, 14),
            14,
            "0",
        )
        return F.conv(hex7, 16, 10).cast("long")
    if dt in (
        "tinyint", "smallint", "int", "bigint", "long", "float",
        "double", "boolean",
    ) or dt.startswith("decimal"):
        return F.col(col).cast("long")
    raise ValueError(
        f"zorder: column {col!r} has type {dt}, which has no "
        "order-preserving long mapping — ZORDER BY supports numeric, "
        "date, timestamp, and string columns"
    )


def zorder_key(
    cols: list[str],
    mins: list[int],
    maxs: list[int],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) key over ``cols``: each column normalizes to a
    ``bits``-bit integer inside its [min, max] domain, then the bits
    interleave (bit j of column c lands at position j*n_cols + c).
    Pure integer Column arithmetic — no UDF.

    Sorting by this key gives every column locality simultaneously,
    which single-column range clustering cannot: with k files along a
    2-D Z-curve each file covers ~sqrt(1/k) of EACH dimension, so
    selective predicates on either column skip most row groups.

    The interleaved key must fit the 63 value bits of a signed long:
    with the default bits=16, 4 columns would place a bit at position
    63 (the sign bit — large keys turn negative and the sort order
    inverts) and 5+ would silently wrap. ``bits`` is auto-reduced to
    ``63 // n_cols`` when needed; an explicit impossible request
    (bits < 1 after reduction, i.e. > 63 columns) raises.
    """
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    max_bits = 63 // n
    if max_bits < 1:
        raise ValueError(
            f"zorder_key: {n} columns cannot interleave into 63 bits"
        )
    bits = min(bits, max_bits)
    bad = [c for c, lo, hi in zip(cols, mins, maxs) if lo is None or hi is None]
    if bad:
        raise ValueError(
            f"zorder_key: columns {bad} have NULL min/max bounds — the "
            "table is empty or the column is entirely NULL; there is "
            "nothing to cluster (Delta's OPTIMIZE ZORDER no-ops here; "
            "optimize_table does the same)"
        )
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = max(int(hi) - int(lo), 1)
        scaled.append(
            (
                (F.col(c).cast("long") - F.lit(int(lo)))
                * F.lit((1 << bits) - 1) / F.lit(span)
            ).cast("long")
        )
    # The bit interleave itself lives in operators/layout.py (which
    # also provides its SQL-twin generator for the oracle gate); this
    # wrapper only adds the domain scaling + sign-bit guard.
    from mydatalake_spark.operators.layout import zorder_key as _interleave

    return _interleave(scaled, bits=bits)


def _zorder_frame(
    df: DataFrame,
    cluster_by: list[str],
    bits: int,
    n_files: int | None,
    curve: str = "zorder",
) -> DataFrame:
    """The Z-order layout as a TRANSFORMED FRAME: Morton key computed
    in-plan from one min/max aggregate (a single driver row), range
    partition on it, within-partition sort, key dropped. Writing this
    frame through any sink yields tight per-file row-group stats —
    write_zordered saves it to a path, optimize_table routes it
    through the catalog's staging swap.

    Non-numeric cluster columns (date / timestamp / string — Delta's
    common ZORDER keys) ride an order-preserving long surrogate
    (:func:`_zorder_surrogate`); a NULL column value sorts as the
    domain minimum. An empty table or an all-NULL cluster column has
    no bounds to scale into and raises by name (zorder_key's guard) —
    optimize_table short-circuits the empty case to a no-op first."""
    surrogates = {
        f"__zs{i}__": _zorder_surrogate(df, c)
        for i, c in enumerate(cluster_by)
    }
    with_s = df.withColumns(surrogates)
    snames = list(surrogates)
    bounds = with_s.agg(
        *[F.min(n).alias(f"__min_{n}__") for n in snames],
        *[F.max(n).alias(f"__max_{n}__") for n in snames],
    ).first()
    mins = [bounds[f"__min_{n}__"] for n in snames]
    maxs = [bounds[f"__max_{n}__"] for n in snames]
    if curve == "hilbert" and len(snames) >= 2:
        # liquid clustering's curve: Hilbert beats Morton on
        # multi-column locality (consecutive indices are always grid
        # neighbors — no quadrant-seam jumps), so each file's bounding
        # box per column is tighter. The transform is bits-level
        # unrolled integer arithmetic (operators/layout.py:
        # hilbert_transpose) — no UDF; 8 bits (256 cells/dim, 2^(8n)
        # cells total) is ample resolution for file-level clustering
        # AND the measured ceiling below which the fused
        # whole-stage-codegen method still compiles (10 bits trips
        # janino's method-size limit and silently falls back to
        # interpreted projection — correct but off the codegen path).
        from .operators.layout import hilbert_key

        hbits = min(bits, 8, 63 // len(snames))
        bad = [
            c for c, lo, hi in zip(cluster_by, mins, maxs)
            if lo is None or hi is None
        ]
        if bad:
            raise ValueError(
                f"hilbert clustering: columns {bad} have NULL "
                "min/max bounds — the table is empty or the column "
                "is entirely NULL; there is nothing to cluster"
            )
        scaled = {}
        for i, (name, lo, hi) in enumerate(zip(snames, mins, maxs)):
            span = max(int(hi) - int(lo), 1)
            scaled[f"__hs{i}__"] = (
                (F.col(name).cast("long") - F.lit(int(lo)))
                * F.lit((1 << hbits) - 1) / F.lit(span)
            ).cast("long")
        keyed = hilbert_key(
            with_s.withColumns(scaled),
            list(scaled),
            bits=hbits,
            key_name="__z__",
        ).drop(*snames, *scaled)
    else:
        keyed = with_s.withColumn(
            "__z__", zorder_key(snames, mins, maxs, bits)
        ).drop(*snames)
    part = (
        keyed.repartitionByRange(n_files, "__z__")
        if n_files
        else keyed.repartitionByRange("__z__")
    )
    return part.sortWithinPartitions("__z__").drop("__z__")


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order-cluster a table on multiple columns before writing —
    the plain-parquet analogue of Delta's OPTIMIZE ZORDER BY for the
    multi-column case (write_clustered covers single-column range
    clustering). Footer-level skipping evidence is asserted in
    tests/test_scale.py."""
    _zorder_frame(df, cluster_by, bits, n_files).write.mode(
        "overwrite"
    ).parquet(path)


def _touched_partitions_for_predicate(
    catalog: Catalog, full_name: str, pcols: list[str], where
) -> list[tuple]:
    """Leaf partitions whose DIRECTORY-derived values satisfy a
    partition predicate — pure metadata: the values come from the
    hive dirnames (one row per leaf), get cast to the table's
    partition types, and the predicate filters that tiny frame. No
    data file is opened. A predicate referencing any non-partition
    column fails by name (it cannot be evaluated from metadata, and
    silently scanning data would defeat OPTIMIZE WHERE's point)."""
    from pyspark.errors import AnalysisException

    from .catalog import _leaf_partition_files

    leaves = _leaf_partition_files(catalog.path(full_name), pcols)
    if not leaves:
        return []
    read_schema = {
        f.name: f.dataType
        for f in catalog.read(full_name).select(*pcols).schema.fields
    }
    str_df = catalog.spark.createDataFrame(
        [tuple(v) for v in leaves],
        ", ".join(f"{c} string" for c in pcols),
    )
    typed = str_df.select(
        *[F.col(c).cast(read_schema[c]).alias(c) for c in pcols]
    )
    cond = F.expr(where) if isinstance(where, str) else where
    try:
        rows = typed.where(F.coalesce(cond, F.lit(False))).collect()
    except AnalysisException as e:
        raise ValueError(
            f"OPTIMIZE WHERE predicate must reference only the "
            f"partition columns {pcols} (it is evaluated from "
            f"directory metadata, never a data scan): {e}"
        ) from None
    return [tuple(r[c] for c in pcols) for r in rows]


def _cluster_file_ranges(
    path: str, column: str
) -> tuple[list[tuple[str, object, object, int]], list[str]] | None:
    """Per-data-file (path, min, max, bytes) of ``column`` from the
    parquet FOOTERS — metadata scale, no Spark job, no data bytes
    read. Returns (ranged files, rangeless files); rangeless files
    (zero-row schema anchors: row-group-free, no interval to overlap)
    must still be CARRIED through any rewrite, just never rewritten.
    Returns None if any row group lacks usable stats for the column
    (caller falls back to the full rewrite rather than guessing)."""
    import pyarrow.parquet as pq

    from .catalog import data_files

    out, rangeless = [], []
    for fp in data_files(path):
        md = pq.ParquetFile(fp).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema != column:
                    continue
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or st.min is None
                    or st.max is None
                ):
                    return None
                mins.append(st.min)
                maxs.append(st.max)
        if not mins:
            rangeless.append(fp)
        else:
            out.append(
                (fp, min(mins), max(maxs), os.path.getsize(fp))
            )
    return out, rangeless


def _overlap_components(
    ranges: list[tuple[str, object, object, int]],
) -> list[list[tuple[str, object, object, int]]]:
    """Connected components of STRICTLY overlapping file intervals
    (touching boundaries — ``hi == lo`` — stay separate: a duplicate
    key value spanning a range-partition boundary is inherent, not a
    layout defect). One sorted sweep; each component's interval hull
    is disjoint from every file outside it, so a component can be
    rewritten alone without creating new overlaps."""
    comps: list[list] = []
    cur: list = []
    cur_max = None
    for item in sorted(ranges, key=lambda t: (t[1], t[2])):
        if cur and item[1] < cur_max:  # strict overlap with the hull
            cur.append(item)
            cur_max = max(cur_max, item[2])
        else:
            if cur:
                comps.append(cur)
            cur = [item]
            cur_max = item[2]
    if cur:
        comps.append(cur)
    return comps


def _recluster_incremental(
    catalog: Catalog,
    full_name: str,
    column: str,
    target_file_bytes: int,
) -> int | None:
    """Incremental recluster of a single-column CLUSTER BY table —
    Delta liquid clustering's OPTIMIZE behavior, and the form that
    holds at 100 TB: a full-table rewrite per OPTIMIZE does not.

    Overlapping files are found from parquet footer min/max alone
    (one stat pass, no data read), grouped into connected components,
    and ONLY those components' rows are read and re-range-partitioned
    — each component's hull is disjoint from everything outside it,
    so per-component rewrites cannot introduce new overlaps. Clean
    files are HARDLINKED into the staging directory (O(#files)
    metadata ops, zero data bytes — the ``Catalog.snapshot``
    discipline), and the whole new state commits through the same
    atomic directory swap as every overwrite, so versioning, crash
    behavior (staging garbage, live intact), and time travel are
    unchanged.

    Returns the number of files written, 0 for an already-clustered
    no-op (which commits NO new version), or None when the incremental
    path does not apply (stats missing, overlap spans most of the
    table, or pathologically many components) — the caller falls back
    to the full rewrite."""
    import shutil

    path = catalog.path(full_name)
    probed = _cluster_file_ranges(path, column)
    if probed is None:
        return None
    ranges, rangeless = probed
    if not ranges:
        return 0  # empty / anchor-only table: nothing to recluster
    comps = _overlap_components(ranges)
    dirty = [c for c in comps if len(c) > 1]
    # Size arm: maximal sort-consecutive runs of >= 2 SMALL singleton
    # components merge into one rewrite group. Monotonic-key appends
    # (the time-series norm: every new file strictly above the last)
    # never overlap anything, so overlap detection alone would no-op
    # forever while tiny files accumulate unboundedly. A run's hull
    # spans only its members and the gaps between them — the sweep
    # order guarantees no outside file sorts into those gaps — so the
    # rewrite stays overlap-free, like the component rewrites.
    small = target_file_bytes // 2
    run: list = []
    for c in comps:
        if len(c) == 1 and c[0][3] < small:
            run.extend(c)
        else:
            if len(run) > 1:
                dirty.append(run)
            run = []
    if len(run) > 1:
        dirty.append(run)
    if not dirty:
        return 0
    dirty_files = [f for c in dirty for f in c]
    dirty_bytes = sum(t[3] for t in dirty_files)
    total_bytes = sum(t[3] for t in ranges)
    if len(dirty) > 8 or dirty_bytes >= 0.6 * max(total_bytes, 1):
        return None  # full rewrite is the better plan
    clean = [
        t[0] for c in comps if len(c) == 1 for t in c
    ] + rangeless

    spark = catalog.spark
    frames = []
    for comp in dirty:
        files = [t[0] for t in comp]
        n = max(1, -(-sum(t[3] for t in comp) // target_file_bytes))
        frames.append(
            spark.read.parquet(*files)
            .repartitionByRange(n, column)
            .sortWithinPartitions(column)
        )
    return _commit_recluster(catalog, full_name, clean, frames)


def _commit_recluster(
    catalog: Catalog,
    full_name: str,
    clean_paths: list[str],
    frames: list[DataFrame],
) -> int:
    """Shared commit arm of the incremental reclusters: write each
    frame into scratch dirs INSIDE a fresh staging directory (dot-
    prefixed: invisible to scans and list_tables, so a crash anywhere
    leaves only the __staging husk vacuum already reclaims — never a
    phantom catalog entry), HARDLINK the clean files alongside
    (O(#files) metadata ops, zero data bytes), and commit through the
    catalog's publish step like every overwrite (token check,
    snapshot, directory swap, one book update). The clustered-file
    book is refreshed from the committed state."""
    import shutil

    # OCC capture: the frames read the live files listed above —
    # another writer committing before our swap would be clobbered by
    # a "row-preserving" rewrite of rows that no longer exist
    expected = catalog.commit_token(full_name)
    staging = catalog.path(full_name) + "__staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    written = 0
    try:
        for i, out in enumerate(frames):
            tmp = os.path.join(staging, f".rc{i}")
            out.write.mode("overwrite").parquet(tmp)
            for f in sorted(os.listdir(tmp)):
                if f.startswith((".", "_")):
                    continue
                os.replace(
                    os.path.join(tmp, f),
                    os.path.join(staging, f"rc{i}-{f}"),
                )
                written += 1
            shutil.rmtree(tmp, ignore_errors=True)
        for fp in clean_paths:
            os.link(fp, os.path.join(staging, os.path.basename(fp)))
        # reclustering never changes row content, so live commit
        # markers (.replica_synced, .applied_batch) stay true of the
        # new layout and must ride the swap (ADVICE r13)
        catalog.carry_marker_files(full_name, staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    catalog._publish(
        full_name, staging, expected, schema=catalog.read(full_name).schema
    )
    catalog._mark_clustered_current(full_name)
    return written


def _recluster_book(
    catalog: Catalog,
    full_name: str,
    cluster_by: list[str],
    target_file_bytes: int,
    bits: int,
) -> int | None:
    """Incremental recluster for MULTI-column CLUSTER BY via the
    clustered-file book (catalog.clustered_files) — Delta's actual
    liquid-clustering design (ZCube tracking). Geometric overlap
    detection does not generalize past one dimension: the n-D
    bounding boxes of correctly Hilbert-clustered files legitimately
    overlap, so "overlapping = dirty" would re-cluster everything,
    every time. Instead every clustered write records its files;
    OPTIMIZE reads ONLY the unrecorded (appended) files, Hilbert-
    clusters them into a new cube beside the recorded ones, and marks
    the result. Query pruning still works across cubes (each file's
    footer stats stand alone); OPTIMIZE FULL merges all cubes into
    one. The book self-heals: a missing/stale entry only UNDER-counts
    and costs one re-cluster, never a wrong skip.

    Returns files written, 0 for a no-op (no new version), or None to
    fall back to the full rewrite (dirty bytes >= 60% of the table)."""
    from .catalog import data_files

    path = catalog.path(full_name)
    all_files = [
        (fp, os.path.getsize(fp)) for fp in data_files(path)
    ]
    if not all_files:
        return 0
    book = catalog.clustered_files(full_name)
    dirty = [t for t in all_files if os.path.basename(t[0]) not in book]
    if not dirty:
        return 0
    dirty_bytes = sum(t[1] for t in dirty)
    total_bytes = sum(t[1] for t in all_files)
    if dirty_bytes >= 0.6 * max(total_bytes, 1):
        return None  # full rewrite is the better plan (and re-marks)
    dirty_names = {os.path.basename(t[0]) for t in dirty}
    clean = [
        t[0]
        for t in all_files
        if os.path.basename(t[0]) not in dirty_names
    ]
    n = max(1, -(-dirty_bytes // target_file_bytes))
    frame = _zorder_frame(
        catalog.spark.read.parquet(*[t[0] for t in dirty]),
        cluster_by, bits, n, curve="hilbert",
    )
    return _commit_recluster(catalog, full_name, clean, [frame])


def optimize_table(
    catalog: Catalog,
    full_name: str,
    zorder_by: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 16,
    where=None,
    full: bool = False,
) -> int:
    """Delta ``OPTIMIZE t [WHERE pred] [ZORDER BY (cols)]`` analogue
    on a CATALOG table; returns the output file count (0 for a no-op).
    Without ``zorder_by`` this is :func:`compact` (small-file merge,
    skew-aware shuffle choice). With it, the table is rewritten in
    Z-order (single column → plain range clustering, the degenerate
    Morton case is the same thing) THROUGH THE STAGING SWAP — the
    table reads its own files, so the in-place write write_zordered
    does on a fresh path would be undefined here; versioning and
    CHECK constraints ride the swap like every catalog overwrite.

    ``where`` confines the rewrite to matching partitions (Delta's
    ``OPTIMIZE t WHERE <partition predicate>`` — THE form that
    matters at 100 TB, where whole-table OPTIMIZE is off the table):
    the predicate is evaluated against directory-derived partition
    values only (metadata scale, no data scan; non-partition columns
    are refused by name), matching leaves are read, compacted or
    Z-ordered, and swapped through overwrite_partitions — untouched
    leaves are never read and stay inode-identical on disk. Its
    commit retains the pre-state as a hardlink snapshot under the same
    lock as the swap, so a partition-scoped OPTIMIZE is a version like
    any other write and a failed staging write commits nothing.

    On a hive-partitioned table the layout is preserved (detected via
    detect_partition_cols); clustering is then global across the
    rewritten slice, so each range task can write into several leaves
    — same per-leaf file-count caveat as any partitioned write."""
    from .catalog import detect_partition_cols

    cby = catalog.declared_cluster_cols(full_name)
    if cby:
        # CLUSTER BY table (liquid-clustering contract): OPTIMIZE
        # maintains the DECLARED layout — appends land unclustered
        # and this restores tight disjoint footer spans. An explicit
        # ZORDER BY would silently fork the layout, so it's refused;
        # re-declare via ALTER TABLE ... CLUSTER BY to change keys.
        if zorder_by and list(zorder_by) != list(cby):
            raise ValueError(
                f"optimize_table: {full_name} declares CLUSTER BY "
                f"{cby}; OPTIMIZE maintains that layout — ALTER TABLE "
                "... CLUSTER BY (...) (or NONE) to change it instead "
                f"of ZORDER BY {list(zorder_by)}"
            )
        zorder_by = list(cby)
        if not full and where is None and catalog.fmt != "delta":
            # (the raw directory swap below is a plain-parquet
            # mechanism: on a Delta catalog it would bypass the
            # _delta_log — resurrecting tombstoned rows and breaking
            # the log — so Delta falls through to the full rewrite,
            # which delegates to the transactional overwrite)
            # Incremental recluster (Delta liquid clustering's
            # OPTIMIZE): only unclustered data is rewritten; clean
            # files ride through as hardlinks. Single column: dirty =
            # footer-overlap components (exact, keeps the whole table
            # globally disjoint). Multi column: dirty = files outside
            # the clustered-file book (n-D boxes of clustered files
            # legitimately overlap — ZCube-style tracking is the
            # honest detector there). A recluster permutes rows,
            # never changes them, so CHECK constraints hold iff they
            # held (same argument as the hardlink version snapshots).
            # `OPTIMIZE t FULL` (or full=True) forces the whole-table
            # rewrite.
            if len(cby) == 1:
                n = _recluster_incremental(
                    catalog, full_name, cby[0], target_file_bytes
                )
            else:
                n = _recluster_book(
                    catalog, full_name, cby, target_file_bytes, bits
                )
            if n is not None:
                return n
    pcols = detect_partition_cols(catalog.path(full_name))
    if where is not None:
        return _optimize_partitions(
            catalog, full_name, pcols, where, zorder_by,
            target_file_bytes, bits,
        )
    if not zorder_by:
        return compact(
            catalog, full_name,
            target_file_bytes=target_file_bytes,
            partition_by=pcols,
        )
    overlap = sorted(set(zorder_by) & set(pcols or []))
    if overlap:
        raise ValueError(
            f"optimize_table: ZORDER BY columns {overlap} are "
            "partition columns — they are already directory-separated; "
            "cluster on the columns filters actually range over"
        )
    df = catalog.read(full_name)
    if df.limit(1).count() == 0:
        # Delta's OPTIMIZE ZORDER no-ops on an empty table; an empty
        # frame has no min/max bounds to scale the Morton key into.
        return 0
    sizes = file_sizes(catalog, full_name)
    n_files = max(1, -(-sum(sizes) // target_file_bytes))
    if len(zorder_by) == 1:
        # single key: EXACT range clustering — pairwise-disjoint file
        # ranges with no quantization fuzz (the bits-bounded Morton
        # cell lets boundary keys interleave by up to domain/2^bits),
        # and no min/max bounds job
        out = df.repartitionByRange(
            n_files, *zorder_by
        ).sortWithinPartitions(*zorder_by)
    else:
        # declared multi-column CLUSTER BY rides the Hilbert curve
        # (liquid clustering's curve); explicit ZORDER BY keeps the
        # Morton layout its name promises
        out = _zorder_frame(
            df, zorder_by, bits, n_files,
            curve="hilbert" if cby else "zorder",
        )
    # a recluster permutes rows, never changes them — sync markers
    # like .replica_synced stay valid and must survive (ADVICE r13)
    catalog.overwrite_via_staging(
        out, full_name, partition_by=pcols, _preclustered=True,
        carry_markers=True,
    )
    return n_files


def _optimize_partitions(
    catalog: Catalog,
    full_name: str,
    pcols: list[str] | None,
    where,
    zorder_by: list[str] | None,
    target_file_bytes: int,
    bits: int,
) -> int:
    """The WHERE-scoped arm of :func:`optimize_table`: compact or
    Z-order ONLY the leaves whose partition values match, through the
    partition-swap path the DML family uses. Cost = touched leaves,
    never the table."""
    if not pcols:
        raise ValueError(
            "OPTIMIZE ... WHERE needs a hive-partitioned table (the "
            "predicate selects partitions to rewrite); "
            f"{full_name} has no detectable partition layout"
        )
    overlap = sorted(set(zorder_by or []) & set(pcols))
    if overlap:
        raise ValueError(
            f"optimize_table: ZORDER BY columns {overlap} are "
            "partition columns — they are already directory-separated; "
            "cluster on the columns filters actually range over"
        )
    from .catalog import _leaf_partition_files, partition_predicate

    touched = _touched_partitions_for_predicate(
        catalog, full_name, pcols, where
    )
    if not touched:
        return 0
    leaves = _leaf_partition_files(catalog.path(full_name), pcols)
    # leaf keys are dirname strings; re-derive the byte total from the
    # string forms of the touched values (both came through Spark's
    # own encoding, so matching on str() is exact for the supported
    # partition types)
    touched_strs = {tuple(str(v) for v in t) for t in touched}
    slice_bytes = sum(
        sz
        for vals, files in leaves.items()
        if tuple(str(v) for v in vals) in touched_strs
        for _rel, sz, _mt, _ino in files
    )
    n_files = max(1, -(-slice_bytes // target_file_bytes))
    df = catalog.read(full_name)
    part = df.where(partition_predicate(pcols, touched))
    if zorder_by:
        if part.limit(1).count() == 0:
            return 0
        out = _zorder_frame(part, zorder_by, bits, n_files)
    else:
        out = part.repartition(n_files)
    catalog.overwrite_partitions(out, full_name, pcols, touched)
    return n_files


def plan_compaction(
    files: DataFrame,
    size_col: str,
    order_col: str,
    target: float,
) -> DataFrame:
    """Bin-pack an ordered file/bucket listing into compaction groups
    of ~``target`` size: each entry's group is ``floor(cumulative
    size before it / target)`` — the deterministic, single-window
    analogue of OPTIMIZE's file binning that never splits an input
    file and keeps the clustering order (compacting Z-ordered files
    out of order would destroy the layout write_zordered paid for).

    The window is unpartitioned but runs over the FILE LISTING (one
    row per file/bucket — metadata scale, like zone_maps output), not
    the data. Returns the listing with ``group_id`` appended."""
    w = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(size_col).over(w) - F.col(size_col)
    return files.withColumn(
        "group_id", F.floor(start / target).cast("long")
    )
