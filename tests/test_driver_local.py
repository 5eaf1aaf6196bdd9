"""The shared size gate (operators/driver_local.py) and the operators
routed through it.

For connected components, PageRank and k-core, an edge set of exactly
`gate` rows must take the driver-local strategy and `gate + 1` rows the
distributed one, with identical output; for entity linking the same
holds for a universe of `gate` distinct entities.  A spy on each
driver-local solver records which strategy ran."""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.harness import python_exec_nodes
from uk_ner_presidio_demo_spark.operators import canonicalize, graph, linking
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
                      (graph, "_local_pagerank"), (graph, "_local_k_core"),
                      (linking, "_local_link")):
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


# ---- entity linking ---------------------------------------------------------

MENTION_DDL = "conv_id string, entity_type string, norm_surface string"
ALIAS_DDL = "entity_type string, alias_norm string, canonical_norm string"

_BASES = {
    "EMAIL": "ivan.petrenko@ukr.net",
    "URL": "kyiv.example.ua/news/today",
    "PHONE": "+380 44 123 4567",
    "PERS": "тарас григорович шевченко",
}


def _variants(base: str, n: int) -> list[str]:
    """n one-character variants of `base`: near duplicates LSH blocks."""
    return [base[:p] + "xyzqwj"[i] + base[p + 1:]
            for i, p in enumerate(range(2, 2 + 3 * n, 3))]


ENTS = (
    [(t, s) for t, base in _BASES.items() for s in _variants(base, 6)]
    # one surface under two types: pairs never cross entity types
    + [("URL", _variants(_BASES["EMAIL"], 1)[0])]
)
ALIASES = [
    ("PERS", ENTS[18][1], "т. г. шевченко"),  # target outside the universe
    ("EMAIL", ENTS[0][1], "ivan.petrenko@ukr.net"),
    ("EMAIL", ENTS[0][1], "i.petrenko@ukr.net"),  # multi-valued key
    ("PHONE", ENTS[0][1], "+380 44 000 0000"),  # wrong type: no hit
    ("URL", "kyiv.example.ua", "kyiv.example.ua/news/today"),  # unmatched
]
LINK_GATE = len(set(ENTS))


def _link(spark, ents, aliases, gate):
    # every entity mentioned twice: the gate counts DISTINCT entities
    mentions = spark.createDataFrame(
        [(f"c{i % 2}", t, s) for i, (t, s) in enumerate(ents * 2)],
        MENTION_DDL,
    )
    return linking.link_entities(
        mentions, spark.createDataFrame(aliases, ALIAS_DDL),
        local_max_nodes=gate,
    )


def _link_rows(linked):
    nodes, edges = linked
    return _rows(nodes), _rows(edges)


def test_link_gate_boundary_and_strategy_equality(spark, strategy,
                                                  monkeypatch):
    # driver-side band keys in batches of 4: 28 nodes span 7 batches
    monkeypatch.setattr(linking, "_KEY_BATCH", 4)
    at_gate, took = strategy(lambda: _link(spark, ENTS, ALIASES, LINK_GATE))
    assert took == "local"
    over_gate, took = strategy(
        lambda: _link(spark, ENTS, ALIASES, LINK_GATE - 1))
    assert took == "distributed"
    nodes, edges = _link_rows(at_gate)
    assert (nodes, edges) == _link_rows(over_gate)
    # the fixture exercises every edge and node source
    alias_edges = {(t, s, d) for t, s, d in ALIASES[:3]}
    assert alias_edges <= set(edges)
    assert set(edges) - alias_edges  # LSH-verified pairs
    assert ("PERS", "т. г. шевченко") in nodes
    assert len(nodes) == LINK_GATE + 3


def test_link_zero_and_negative_gates(spark, strategy):
    """0 links only the empty universe locally; -1 always runs the
    distributed join."""
    local, took = strategy(lambda: _link(spark, [], ALIASES, 0))
    assert took == "local"
    _, took = strategy(lambda: _link(spark, ENTS[:1], ALIASES, 0))
    assert took == "distributed"
    dist, took = strategy(lambda: _link(spark, [], ALIASES, -1))
    assert took == "distributed"
    assert _link_rows(local) == _link_rows(dist) == ([], [])


def test_local_link_plans_as_local_relations(spark):
    for df in _link(spark, ENTS, ALIASES, LINK_GATE):
        plan = _plan(df)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
        assert not python_exec_nodes(plan), plan


def test_distributed_link_is_a_blocked_equi_join(spark):
    """Forced-distributed linking keeps candidate generation an
    equi-join on the band key (never all pairs), with both kernels
    Arrow-batched."""
    _, edges = _link(spark, ENTS, ALIASES, -1)
    plan = _plan(edges)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert set(python_exec_nodes(plan)) == {"ArrowEvalPython"}, plan
    arrow = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert any("_band_keys_udf" in ln for ln in arrow), plan
    assert any("_jaccard_udf" in ln for ln in arrow), plan


def test_link_strategies_agree_on_corpus_graph(spark, sf01, strategy):
    """Strategy equality on the REAL entity universe at sf0.01."""
    from uk_ner_presidio_demo_spark.operators.detect import (
        detect_turns, mentions_from_turns,
    )
    from uk_ner_presidio_demo_spark.sources.tables import (
        read_aliases, read_transcripts,
    )

    m = mentions_from_turns(detect_turns(
        read_transcripts(spark, sf01), with_anonymized=False,
    )).localCheckpoint(eager=True)
    local, took = strategy(
        lambda: linking.link_entities(m, read_aliases(spark)))
    assert took == "local"
    dist, took = strategy(lambda: linking.link_entities(
        m, read_aliases(spark), local_max_nodes=-1))
    assert took == "distributed"
    nodes, edges = _link_rows(local)
    assert edges and (nodes, edges) == _link_rows(dist)


_TYPES = sorted(_BASES)


@st.composite
def _universe(draw):
    """Near-duplicate surfaces of a few bases (one-character edits, some
    cut below the 3-gram length) spread over several entity types, and an
    alias dictionary with at least one hit."""
    ents = []
    for _ in range(draw(st.integers(1, 24))):
        base = _BASES[draw(st.sampled_from(_TYPES))]
        pos = draw(st.integers(0, len(base) - 1))
        s = base[:pos] + draw(st.sampled_from("ae0.-ж")) + base[pos + 1:]
        ents.append((draw(st.sampled_from(_TYPES)),
                     s[:draw(st.integers(0, len(s)))]))
    targets = st.sampled_from(sorted({s for _, s in ents}) + ["canon"])
    hit = draw(st.sampled_from(ents))
    aliases = [(*hit, draw(targets))] + draw(st.lists(
        st.tuples(st.sampled_from(_TYPES), targets, targets), max_size=6))
    return ents, aliases


@given(_universe())
@settings(max_examples=8, deadline=None)
def test_link_strategies_agree_on_generated_universes(spark, universe):
    ents, aliases = universe
    local = _link(spark, ents, aliases, linking.LINK_LOCAL_MAX_NODES)
    assert "LocalTableScan" in _plan(local[0])
    assert _link_rows(local) == _link_rows(_link(spark, ents, aliases, -1))
