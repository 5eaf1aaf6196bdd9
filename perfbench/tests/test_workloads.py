"""Seeded generation: the same seed gives the same inputs (and hash), a
different seed different ones, and materialization is cached."""

import pytest

import workloads
from workloads import Shape

SMALL = Shape(base=6, deltas=2, delta_convs=2)


def _hash(workload, seed):
    base, deltas = workloads.generate(workload, seed, SMALL)
    return workloads.content_hash([base, *deltas])


@pytest.mark.parametrize("workload", sorted(workloads.GENERATORS))
def test_same_seed_same_hash_other_seed_other_hash(workload):
    assert _hash(workload, 3) == _hash(workload, 3)
    assert _hash(workload, 3) != _hash(workload, 4)


@pytest.mark.parametrize("workload", sorted(workloads.GENERATORS))
def test_deltas_are_new_conversations(workload):
    base, deltas = workloads.generate(workload, 3, SMALL)
    assert len(deltas) == SMALL.deltas
    seen = set(base["conv_id"])
    for d in deltas:
        convs = set(d["conv_id"])
        assert len(convs) == SMALL.delta_convs
        assert not convs & seen
        seen |= convs


def test_materialize_records_hash_and_reuses_cache(tmp_path, monkeypatch):
    monkeypatch.setitem(workloads.SHAPES, "entity_dense", SMALL)
    first = workloads.materialize("entity_dense", 7, tmp_path)
    assert first.meta["content_sha256"] == _hash("entity_dense", 7)
    assert len(first.golden("base_ctriples")) > 0

    def regenerate(*_):
        raise AssertionError("cached inputs were regenerated")

    monkeypatch.setattr(workloads, "generate", regenerate)
    again = workloads.materialize("entity_dense", 7, tmp_path)
    assert again.meta == first.meta
