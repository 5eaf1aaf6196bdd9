"""The shared size gate (operators/driver_local.py) and the three fixed
points routed through it.

For connected components, PageRank and k-core, an edge set of exactly
`gate` rows must take the driver-local strategy and `gate + 1` rows the
distributed one, with identical output.  A spy on each driver-local
solver records which strategy ran."""

import random

import pytest

from uk_ner_presidio_demo_spark.operators import canonicalize, graph
from uk_ner_presidio_demo_spark.operators.driver_local import (
    collect_if_small, local_frame,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def strategy(monkeypatch):
    """strategy(thunk) -> (frame, "local" | "distributed")."""
    calls = []
    for mod, name in ((canonicalize, "_local_labels"),
                      (graph, "_local_pagerank"), (graph, "_local_k_core")):
        def spy(*args, _solve=getattr(mod, name)):
            calls.append(_solve)
            return _solve(*args)
        monkeypatch.setattr(mod, name, spy)

    def run(thunk):
        before = len(calls)
        df = thunk()
        return df, ("local" if len(calls) > before else "distributed")
    return run


def _edges(n_nodes=60, n_edges=90, seed=11):
    """Distinct undirected pairs (u < v, no self-loops) with weights, so
    every operator's gated working set holds exactly n_edges rows."""
    rng = random.Random(seed)
    pairs: set = set()
    while len(pairs) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            pairs.add((f"n{min(a, b):02d}", f"n{max(a, b):02d}"))
    return [(u, v, rng.randrange(1, 6)) for u, v in sorted(pairs)]


EDGES = _edges()
GATE = len(EDGES)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _cc(spark, edges, gate):
    nodes = spark.createDataFrame(
        sorted({("T", n) for u, v, _ in edges for n in (u, v)}
               | {("T", "lone")}),
        "entity_type string, norm_surface string",
    )
    e = spark.createDataFrame(
        [("T", u, v) for u, v, _ in edges],
        "entity_type string, src string, dst string",
    )
    return canonicalize.connected_components(nodes, e, local_max_edges=gate)


def _pr(spark, edges, gate):
    e = spark.createDataFrame(edges, "subj string, obj string, n_obs long")
    return graph.pagerank(e, k=4, local_max_edges=gate)


def _kc(spark, edges, gate):
    e = spark.createDataFrame(edges, "subj string, obj string, n_obs long")
    return graph.k_core(e, 2, local_max_edges=gate)


OPERATORS = pytest.mark.parametrize(
    "run", [_cc, _pr, _kc], ids=["cc", "pagerank", "k_core"]
)


@OPERATORS
def test_gate_boundary_and_strategy_equality(spark, strategy, run):
    at_gate, took = strategy(lambda: run(spark, EDGES, GATE))
    assert took == "local"
    assert "LocalTableScan" in _plan(at_gate)
    over_gate, took = strategy(lambda: run(spark, EDGES, GATE - 1))
    assert took == "distributed"
    local = _rows(at_gate)
    assert local and local == _rows(over_gate)


@OPERATORS
def test_zero_and_negative_gates(spark, strategy, run):
    """0 solves only the empty edge set locally; -1 forces the
    distributed loop even there."""
    local, took = strategy(lambda: run(spark, [], 0))
    assert took == "local"
    _, took = strategy(lambda: run(spark, EDGES[:1], 0))
    assert took == "distributed"
    dist, took = strategy(lambda: run(spark, [], -1))
    assert took == "distributed"
    assert _rows(local) == _rows(dist)


def test_collect_if_small_is_one_bounded_job(spark):
    df = spark.range(0, 50, numPartitions=8).localCheckpoint(eager=True)
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("collect_if_small", "gate probe")
    try:
        assert len(collect_if_small(df, 50)) == 50
        assert collect_if_small(df, 49) is None
        assert collect_if_small(df, -1) is None  # no job at all
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one job per gated call however many partitions the frame has
    assert len(st.getJobIdsForGroup("collect_if_small")) == 2
    assert collect_if_small(df.limit(0), 0) == []


def test_local_frame_is_local_table_scan(spark):
    df = local_frame(spark, [("a", 1), ("b", None)], "k string, v long")
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]
    empty = local_frame(spark, [], "k string, v long")
    assert empty.collect() == []
    assert empty.schema == df.schema
