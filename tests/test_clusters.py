"""Connected components / duplicate-cluster resolution.

Every graph runs on both paths of ``connected_components``: the driver
path (the default bound) and the distributed fixpoint (the bound
lowered below the edge count), which must agree row for row and in
their round count."""

import pytest
from pyspark.sql import functions as F

from mydatalake_spark.operators import clusters
from mydatalake_spark.operators.clusters import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs, types="id_a long, id_b long"):
    return spark.createDataFrame(pairs, types)


def _paths(monkeypatch, bounds=(None, 0)):
    """Run the loop body once per driver-path bound: ``None`` keeps
    the default, and a bound below the edge count forces the fixpoint
    (no edge list fits under 0)."""
    for bound in bounds:
        with monkeypatch.context() as m:
            if bound is not None:
                m.setattr(clusters, "DRIVER_EDGES", bound)
            yield bound


def _both_paths(monkeypatch, edges, **kw):
    """CC of ``edges`` on the driver path and on the fixpoint path:
    same column types, same rows, same ``_cc_iterations``. Returns
    ``({node: component}, rounds)``."""
    driver, fixpoint = [
        connected_components(edges, **kw) for _ in _paths(monkeypatch)
    ]
    assert driver.dtypes == fixpoint.dtypes
    rows = sorted(tuple(r) for r in driver.collect())
    assert rows == sorted(tuple(r) for r in fixpoint.collect())
    assert driver._cc_iterations == fixpoint._cc_iterations
    return dict(rows), driver._cc_iterations


def test_cc_chain_and_island(spark, monkeypatch):
    # chain 1-2-3-4 (diameter 3, needs >1 iteration) + island 10-11
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    got, _ = _both_paths(monkeypatch, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_star_and_cycle(spark, monkeypatch):
    edges = _edges(spark, [(5, 1), (5, 2), (5, 3), (7, 8), (8, 9), (9, 7)])
    got, _ = _both_paths(monkeypatch, edges)
    assert got == {5: 1, 1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


@pytest.mark.parametrize(
    "pairs, types, want",
    [
        # ids compare as Spark compares strings: 'é' (U+00E9) after 'z'
        (
            [("b", "a"), ("c", "b"), ("y", "x"), ("é", "z"), ("b", "b")],
            "id_a string, id_b string",
            {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
             "z": "z", "é": "z"},
        ),
        # the ends' common type
        ([(1, 2), (3, 2)], "id_a int, id_b long", {1: 1, 2: 1, 3: 1}),
        # an edge with a NULL end keeps its other end as a node, and no
        # ``node = NULL`` row comes back (a NULL never joins a document)
        (
            [(1, None), (None, 4), (None, None), (6, 7)],
            "id_a long, id_b long",
            {1: 1, 4: 4, 6: 6, 7: 6},
        ),
        ([], "id_a long, id_b long", {}),
    ],
    ids=["string", "int_long", "null_ends", "empty"],
)
def test_cc_id_inputs(spark, monkeypatch, pairs, types, want):
    got, _ = _both_paths(monkeypatch, _edges(spark, pairs, types))
    assert got == want


def test_cc_nonconvergence_raises(spark, monkeypatch):
    edges = _edges(spark, [(1, 2), (2, 3)])
    for _ in _paths(monkeypatch):
        spark.catalog.clearCache()
        for max_iters in (0, 1):
            with pytest.raises(RuntimeError, match="converge in"):
                connected_components(edges, max_iters=max_iters)
        # the raise path frees what the run persisted
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cc_driver_path_runs_one_job(spark):
    """Under the bound, the whole labeling is the bounded edge collect:
    no round, probe or checkpoint job, and the returned frame is local."""
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    sc = spark.sparkContext
    sc.setJobGroup("cc-driver-path", "cc-driver-path")
    try:
        out = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("cc-driver-path")
    assert len(jobs) == 1
    assert out._cc_iterations == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Exchange" not in plan


def test_dedup_clusters_keep_flags(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (20, "solo")],
        "doc_id long, text string",
    )
    pairs = _edges(spark, [(1, 2), (2, 3)])
    for _ in _paths(monkeypatch):
        got = {r.doc_id: (r.cluster_id, r.keep)
               for r in dedup_clusters(docs, pairs).collect()}
        assert got == {
            1: (1, True),      # cluster survivor
            2: (1, False),
            3: (1, False),
            20: (20, True),    # singleton keeps itself
        }


def test_cc_long_path_converges_logarithmically(spark, monkeypatch):
    """A 64-node path has diameter 63; plain min-label propagation
    needs ~63 rounds. Pointer jumping doubles propagation distance per
    round, so it must converge within max_iters=12 (~log2(63)+slack) —
    the adversarial-graph hardening asked for in round-3 review."""
    n = 64
    edges = _edges(spark, [(i, i + 1) for i in range(n - 1)])
    got, rounds = _both_paths(monkeypatch, edges, max_iters=12)
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12


def test_cc_salted_pull_matches_unsalted_on_hub_graph(spark, monkeypatch):
    """A mega-hub (node 0 connected to everything) is the degree-skew
    shape that melts one reducer at 100 TB; the salted two-phase pull
    must produce identical labels to the plain path."""
    edges = _edges(spark, [(0, i) for i in range(1, 400)] + [(500, 501)])
    plain, plain_rounds = _both_paths(monkeypatch, edges)
    salted, salted_rounds = _both_paths(
        monkeypatch, edges, salt_partitions=8
    )
    assert plain == salted and plain_rounds == salted_rounds
    assert salted[399] == 0 and salted[501] == 500


def test_cc_reports_iteration_count(spark, monkeypatch):
    edges = _edges(spark, [(1, 2), (3, 4)])
    for _ in _paths(monkeypatch):
        out = connected_components(edges)
        out.collect()
        assert isinstance(out._cc_iterations, int)
        assert out._cc_iterations >= 1
        assert out.columns == ["node", "component"]


def test_cc_reads_each_edge_row_once(spark, monkeypatch):
    """An unmaterialized upstream plan (the near-dup pipeline's shingle
    self-join) is evaluated once per edge row, on both paths: the
    bounded collect reads a persisted edge frame, and a fixpoint past
    the bound (3 < 5 rows) builds its symmetric edge set in one pass
    over that cache, not once per direction and not again after the
    collect."""
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)]
    for _ in _paths(monkeypatch, bounds=(None, 3)):
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
