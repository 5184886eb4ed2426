"""Duplicate-cluster resolution: near-dup PAIRS → connected
components → one canonical document per cluster.

[extension] The missing last step of every dedup pipeline (no
reference analogue): pair lists (minhash/winnow/cosine verify output)
say "A≈B, B≈C" — retention decisions need the transitive closure
{A,B,C} and a deterministic survivor. Component id = MIN doc id in
the component, so the labeling is a pure fixpoint — deterministic
under any execution order, which is what makes a SQL (recursive CTE)
oracle possible.

Scale notes: min-label propagation is the Pregel/GraphX CC algorithm
expressed in DataFrames — per iteration one join edges⋈labels and one
min-aggregate, both hash-shuffles on node id. Iterations needed =
component diameter, and near-dup clusters are shallow (pairs come
from a similarity threshold, so components are dense — diameter 2-4
in practice). The edge list is read once: one generator pass emits
every edge in both directions, so an unmaterialized upstream (the
shingle self-join of the near-dup pipeline) is evaluated once, not
once per direction. Each iteration's result is checkpointed and the
previous released, so lineage stays O(1) instead of growing per
iteration (the classic iterative-Spark pitfall), and the convergence
probe reads only the checkpointed round: it carries the round's input
label beside the new one, so no join against the old labels is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    salt_partitions: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the smallest node id reachable from the node.

    Driver-coordinated fixpoint loop (bounded by ``max_iters``,
    raises if not converged). Two scale hardenings beyond plain
    min-label propagation:

    - **Pointer jumping** (label doubling): each round, after the
      neighbor-min pull, every node also adopts its current label's
      label (``label(label(u))``) — one extra self-join on the labels
      table. Propagation distance doubles per round, so a path/chain
      component of diameter D converges in ~log2(D) rounds instead of
      D (plain propagation on a 60-node path would blow any sane
      ``max_iters``; with jumping it converges in ~7).
    - **Optional salted neighbor pull** (``salt_partitions=S``): the
      edges⋈labels join distributes by destination node, so one
      mega-hub (or the hot min-label of a giant component) lands its
      whole edge list on a single reducer at 100 TB. With S set, edges
      salt to ``(v, hash(u) % S)`` and the labels side replicates S
      ways, bounding any node's join partition to 1/S of its degree.
      Off by default — replication costs S× the (small) labels-side
      shuffle, and AQE's skew-join split already covers moderate skew;
      turn it on for graphs with known mega-hubs.

    The returned DataFrame carries the number of fixpoint rounds as a
    ``_cc_iterations`` attribute (bench/scaling evidence reads it).
    """
    sym = edges.select(
        F.inline(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        )
    ).distinct().persist()

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
        labels = new_labels
        if changed == 0:
            sym.unpersist()
            out = labels.select(F.col("u").alias("node"), "component")
            out._cc_iterations = it
            return out

    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} "
        "iterations — the similarity threshold is connecting "
        "everything (giant component); raise the threshold."
    )


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
