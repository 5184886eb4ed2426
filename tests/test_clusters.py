"""Connected components / duplicate-cluster resolution."""

import pytest
from pyspark.sql import functions as F

from mydatalake_spark.operators.clusters import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_cc_chain_and_island(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 iteration) + island 10-11
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    got = {r.node: r.component
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_star_and_cycle(spark):
    edges = _edges(spark, [(5, 1), (5, 2), (5, 3), (7, 8), (8, 9), (9, 7)])
    got = {r.node: r.component
           for r in connected_components(edges).collect()}
    assert got == {5: 1, 1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_cc_nonconvergence_raises(spark):
    edges = _edges(spark, [(1, 2), (2, 3)])
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iters=0)


def test_dedup_clusters_keep_flags(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (20, "solo")],
        "doc_id long, text string",
    )
    pairs = _edges(spark, [(1, 2), (2, 3)])
    got = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup_clusters(docs, pairs).collect()}
    assert got == {
        1: (1, True),      # cluster survivor
        2: (1, False),
        3: (1, False),
        20: (20, True),    # singleton keeps itself
    }


def test_cc_long_path_converges_logarithmically(spark):
    """A 64-node path has diameter 63; plain min-label propagation
    needs ~63 rounds. Pointer jumping doubles propagation distance per
    round, so it must converge within max_iters=12 (~log2(63)+slack) —
    the adversarial-graph hardening asked for in round-3 review."""
    n = 64
    edges = _edges(spark, [(i, i + 1) for i in range(n - 1)])
    out = connected_components(edges, max_iters=12)
    got = {r.node: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(n)}
    assert out._cc_iterations <= 12


def test_cc_salted_pull_matches_unsalted_on_hub_graph(spark):
    """A mega-hub (node 0 connected to everything) is the degree-skew
    shape that melts one reducer at 100 TB; the salted two-phase pull
    must produce identical labels to the plain path."""
    edges = _edges(spark, [(0, i) for i in range(1, 400)] + [(500, 501)])
    plain = {r.node: r.component
             for r in connected_components(edges).collect()}
    salted = {r.node: r.component
              for r in connected_components(
                  edges, salt_partitions=8).collect()}
    assert plain == salted
    assert salted[399] == 0 and salted[501] == 500


def test_cc_reports_iteration_count(spark):
    edges = _edges(spark, [(1, 2), (3, 4)])
    out = connected_components(edges)
    out.collect()
    assert isinstance(out._cc_iterations, int) and out._cc_iterations >= 1
    assert out.columns == ["node", "component"]


def test_cc_reads_each_edge_row_once(spark):
    """The symmetric edge set is built in one pass over ``edges``: an
    unmaterialized upstream plan (the near-dup pipeline's shingle
    self-join) must be evaluated once per edge row, not once per
    direction."""
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)]
    reads = spark.sparkContext.accumulator(0)

    def counted(x):
        reads.add(1)
        return x

    counted_udf = F.udf(counted, "long")
    edges = _edges(spark, pairs).select(
        counted_udf("id_a").alias("id_a"), "id_b"
    )
    got = {r.node: r.component
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    assert reads.value == len(pairs)
