"""Duplicate-cluster resolution: near-dup PAIRS → connected
components → one canonical document per cluster.

[extension] The missing last step of every dedup pipeline (no
reference analogue): pair lists (minhash/winnow/cosine verify output)
say "A≈B, B≈C" — retention decisions need the transitive closure
{A,B,C} and a deterministic survivor. Component id = MIN doc id in
the component, so the labeling is a pure fixpoint — deterministic
under any execution order, which is what makes a SQL (recursive CTE)
oracle possible.

Scale notes: the algorithm is min-label propagation with pointer
jumping (the Pregel/GraphX CC algorithm), and it runs on one of two
paths, picked from the edge count observed in one pass:

- **Driver path, up to ``DRIVER_EDGES`` edge rows.** The edge list is
  collected once as Arrow (``limit(DRIVER_EDGES + 1).toArrow()``: a
  per-partition limit, so one parallel pass over every partition, and
  never more than the bound crosses to the driver), the same rounds
  run on numpy arrays, and the labels come back as a local frame (a
  LocalTableScan: no job). A near-dup pair list is this size: pairs
  come from a similarity threshold, so they are few next to the
  corpus (253 pairs over 5,000 documents in the benchmark's curation
  query), and the caller's join broadcasts the labels. Through Spark,
  each round is a checkpoint plus a convergence probe, and AQE runs
  every shuffle stage of it as its own job: 8 jobs for one round of
  253 edges.
- **Fixpoint path, above the bound.** The rounds run as DataFrames: per
  round one join edges⋈labels and one min-aggregate, both
  hash-shuffles on node id. This is the only path whose memory does
  not grow with the edge count on the driver, so it stays. Each
  round's result is checkpointed and the previous released, so
  lineage stays O(1) instead of growing per iteration (the classic
  iterative-Spark pitfall), and the convergence probe reads only the
  checkpointed round: it carries the round's input label beside the
  new one, so no join against the old labels is needed.

Both paths read the edges' upstream once: the edge frame is persisted
before the bounded collect, and the fixpoint builds its symmetric
edge set (one generator pass emitting every edge in both directions)
from that cache. Both run the same rounds, so they return the same
rows and the same ``_cc_iterations``. Iterations needed ≈ log2 of the
component diameter, and near-dup clusters are shallow (diameter 2-4
in practice). A NULL id is not a node: an edge with one NULL end
keeps its other end as a node, and no NULL row is returned.

The bound, measured warm on a 4-core host (``local[4]``, ``bigint``
ids), build seconds + seconds to count the returned frame: 250k
disjoint pairs (1 round) take 1.0 + 1.5 s on the driver path against
2.3 + 0.3 s on the fixpoint; one 250k-edge path (18 rounds) takes
0.9 + 0.9 s against 20 + 0.2 s. The driver's Python peak RSS grows by
80 MB (pairs) and 45 MB (path). At 1M disjoint pairs the driver path
takes 2.7 + 5.9 s against 7.0 + 0.8 s: a local frame's rows ship
inside its scan's tasks, and at that size the scan costs more than
the rounds save, so the bound stays below it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

#: Edge lists of at most this many rows are labeled on the driver.
DRIVER_EDGES = 250_000


def _not_converged(max_iters: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge in {max_iters} "
        "iterations — the similarity threshold is connecting "
        "everything (giant component); raise the threshold."
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    salt_partitions: int | None = None,
) -> DataFrame:
    """(node, component) for every non-NULL node appearing in
    ``edges``; ``component`` is the smallest node id reachable from
    the node.

    Min-label propagation, bounded by ``max_iters`` rounds (raises if
    not converged), run on the driver for an edge list of at most
    ``DRIVER_EDGES`` rows and as a distributed fixpoint above it (see
    the module's scale notes). Two scale hardenings beyond plain
    min-label propagation:

    - **Pointer jumping** (label doubling): each round, after the
      neighbor-min pull, every node also adopts its current label's
      label (``label(label(u))``). Propagation distance doubles per
      round, so a path/chain component of diameter D converges in
      ~log2(D) rounds instead of D (plain propagation on a 60-node
      path would blow any sane ``max_iters``; with jumping it
      converges in ~7).
    - **Optional salted neighbor pull** (``salt_partitions=S``, the
      fixpoint path only): the edges⋈labels join distributes by
      destination node, so one mega-hub (or the hot min-label of a
      giant component) lands its whole edge list on a single reducer
      at 100 TB. With S set, edges salt to ``(v, hash(u) % S)`` and
      the labels side replicates S ways, bounding any node's join
      partition to 1/S of its degree. Off by default — replication
      costs S× the (small) labels-side shuffle, and AQE's skew-join
      split already covers moderate skew; turn it on for graphs with
      known mega-hubs.

    The returned DataFrame carries the number of rounds as a
    ``_cc_iterations`` attribute (bench/scaling evidence reads it).
    """
    # the ids' common type: what array/struct coercion gives both ends
    id_type = (
        edges.select(F.array(F.col(src), F.col(dst)).alias("a"))
        .schema["a"].dataType.elementType
    )
    # persisted: the bounded collect materializes it, and the fixpoint
    # reads it instead of re-running the edges' upstream
    e = edges.select(
        F.col(src).cast(id_type).alias("u"),
        F.col(dst).cast(id_type).alias("v"),
    ).persist()
    pairs = e.limit(DRIVER_EDGES + 1).toArrow()
    if pairs.num_rows <= DRIVER_EDGES:
        e.unpersist()
        schema = StructType(
            [StructField("node", id_type), StructField("component", id_type)]
        )
        nodes, component, it = _label_on_driver(pairs, max_iters)
        out = edges.sparkSession.createDataFrame(
            pa.table({"node": nodes, "component": component}), schema
        )
        out._cc_iterations = it
        return out
    del pairs
    return _fixpoint(e, max_iters, salt_partitions)


def _label_on_driver(
    pairs: pa.Table, max_iters: int
) -> tuple[pa.Array, pa.Array, int]:
    """The fixpoint's rounds over a collected ``(u, v)`` edge table:
    nodes are ranked by id (the sorted distinct non-NULL ids), so the
    minimum rank is the minimum id, and each round is the same
    neighbor-min pull and pointer jump as the DataFrame round. Returns
    the nodes, their component ids and the round count."""
    u = pairs.column("u").combine_chunks()
    v = pairs.column("v").combine_chunks()
    nodes = pc.unique(pa.concat_arrays([u, v]).drop_null())
    nodes = nodes.take(pc.array_sort_indices(nodes))
    iu = pc.index_in(u, value_set=nodes)
    iv = pc.index_in(v, value_set=nodes)
    linked = pc.and_(pc.is_valid(iu), pc.is_valid(iv))
    a = iu.filter(linked).to_numpy().astype(np.intp)
    b = iv.filter(linked).to_numpy().astype(np.intp)
    # both directions: row i of (nbr_of, nbr) says nbr is a neighbor
    nbr_of = np.concatenate([a, b])
    nbr = np.concatenate([b, a])
    # initial label: least(min over neighbors, own)
    label = np.arange(len(nodes), dtype=np.intp)
    np.minimum.at(label, nbr_of, nbr)
    for it in range(1, max_iters + 1):
        merged = label.copy()
        np.minimum.at(merged, nbr_of, label[nbr])
        new = np.minimum(merged, merged[merged])
        if np.array_equal(new, label):
            return nodes, nodes.take(pa.array(new)), it
        label = new
    raise _not_converged(max_iters)


def _fixpoint(
    e: DataFrame, max_iters: int, salt_partitions: int | None
) -> DataFrame:
    """The rounds as a driver-coordinated DataFrame loop over the
    persisted ``(u, v)`` edge frame ``e``, which it releases."""
    sym = e.select(
        F.inline(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        )
    ).filter(F.col("u").isNotNull()).distinct().persist()

    # filled by the first round's eager checkpoint
    labels = sym.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("component")
    ).persist()

    for it in range(1, max_iters + 1):
        # new label = min(own, min over neighbors' labels)
        nbr_labels = labels.select(
            F.col("u").alias("v"),
            F.col("component").alias("nbr_label"),
        )
        if salt_partitions and salt_partitions > 1:
            s = int(salt_partitions)
            salted_edges = sym.withColumn(
                "_s", F.pmod(F.xxhash64("u"), F.lit(s)).cast("int")
            )
            salted_labels = nbr_labels.withColumn(
                "_s",
                F.explode(
                    F.sequence(F.lit(0), F.lit(s - 1)).cast("array<int>")
                ),
            )
            pulled = salted_edges.join(salted_labels, ["v", "_s"])
        else:
            pulled = sym.join(nbr_labels, "v")
        neighbor_min = pulled.groupBy("u").agg(
            F.min("nbr_label").alias("nbr_min")
        )
        # persisted: feeds BOTH sides of the pointer-jump self-join.
        # `_prev` keeps the round's input label for the convergence probe.
        merged = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
                F.col("component").alias("_prev"),
            )
            .persist()
        )
        # pointer jumping: also adopt label(label(u)) — component ids
        # are themselves nodes, so their labels exist in the same table
        parents = merged.select(
            F.col("u").alias("_c"), F.col("component").alias("_parent")
        )
        # localCheckpoint (NOT persist): the jump self-join references
        # `merged` twice, so lineage would DOUBLE per iteration —
        # persist() truncates recomputation but not the analyzed plan,
        # and by iteration ~12 the plan string hits gigabytes and the
        # driver chokes. Eager local checkpoint materializes the round
        # and cuts the lineage to a leaf; per-round plans stay O(1).
        new_labels = (
            merged.join(parents, merged["component"] == parents["_c"], "left")
            .select(
                "u",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_parent"), F.col("component")),
                ).alias("component"),
                "_prev",
            )
            .localCheckpoint(eager=True)
        )
        # LIMIT-1 probe over the checkpointed round alone (no join, no
        # shuffle): proving convergence still scans every row, but a
        # NOT-converged round stops at the first changed label.
        changed = (
            new_labels.filter(F.col("component") != F.col("_prev"))
            .limit(1)
            .count()
        )
        merged.unpersist()
        labels.unpersist()
        # `sym` is loaded now, so it no longer needs the edge cache
        # (a no-op after the first round)
        e.unpersist()
        labels = new_labels
        if changed == 0:
            sym.unpersist()
            out = labels.select(F.col("u").alias("node"), "component")
            out._cc_iterations = it
            return out

    e.unpersist()
    sym.unpersist()
    labels.unpersist()
    raise _not_converged(max_iters)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full dedup decision table: every document labeled with its
    duplicate-cluster id (its own id when it has no near-dups) and a
    deterministic ``keep`` flag (the cluster's min id survives).
    Filtering ``keep`` yields the deduplicated corpus; the rest is
    the removal manifest."""
    cc = connected_components(pairs, src=src, dst=dst)
    out = docs.join(
        cc, docs[id_col] == cc["node"], "left"
    ).select(
        docs[id_col],
        F.coalesce(cc["component"], docs[id_col]).alias("cluster_id"),
        (
            F.coalesce(cc["component"], docs[id_col]) == docs[id_col]
        ).alias("keep"),
    )
    # surface the fixpoint round count for bench/scaling evidence
    out._cc_iterations = getattr(cc, "_cc_iterations", None)
    return out
