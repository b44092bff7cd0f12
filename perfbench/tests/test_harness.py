"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import spec  # noqa: E402
from workloads import batch_contracts, bm25_serve, sketch_serve  # noqa: E402


def test_percentile_refuses_thin_tails():
    with pytest.raises(ValueError):
        harness.percentile([float(i) for i in range(99)], 90)
    assert harness.percentile([float(i) for i in range(100)], 90) == 89.0
    with pytest.raises(ValueError):
        harness.percentile([float(i) for i in range(199)], 95)
    assert harness.percentile([float(i) for i in range(200)], 95) == 189.0
    with pytest.raises(ValueError):
        harness.percentile([1.0] * 19, 50)
    assert harness.percentile([float(i) for i in range(1, 21)], 50) == 10.0


def _bm25_stream(seed):
    pool = [f"t{i}" for i in range(bm25_serve.POOL)]
    rare = [f"rare{i}" for i in range(500)]
    return bm25_serve.request_stream(seed, pool, rare)


@pytest.mark.parametrize("make", [
    _bm25_stream,
    sketch_serve.request_stream,
])
def test_seed_fixes_the_request_sequence(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_blocks_fix_the_request_mix():
    stream = _bm25_stream(3)
    n = bm25_serve.BLOCK_SIZE
    for b in range(5):
        kinds = sorted(k for k, _ in stream[b * n:(b + 1) * n])
        assert kinds == sorted(k for k, c in bm25_serve.BLOCK
                               for _ in range(c))


def test_every_metric_has_a_unit_and_a_valid_name():
    names = (list(spec.END_TO_END) + list(spec.PER_LAYER)
             + list(spec.BATCH_LAYER))
    for name in names:
        assert harness.METRIC_NAME.match(name), name
    for unit, _better, bound in spec.END_TO_END.values():
        assert unit and 0 < bound <= 0.25
    assert all(spec.PER_LAYER.values()) and all(spec.BATCH_LAYER.values())
    m = harness.Metrics()
    with pytest.raises(ValueError):
        m.put("bad name", 1.0, "s")
    with pytest.raises(ValueError):
        m.put("fine", 1.0, "")


def test_benchmark_json_matches_the_spec():
    doc = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert doc == spec.benchmark_json()


def test_batch_order_is_a_seeded_permutation():
    import random

    orders = []
    for seed in (1, 1, 2):
        o = list(spec.CONTRACTS)
        random.Random(seed).shuffle(o)
        orders.append(o)
    assert orders[0] == orders[1] != orders[2]
    assert sorted(orders[0]) == sorted(spec.CONTRACTS)
    assert len(spec.CONTRACTS) == 12
    assert batch_contracts.N_DOCS > 0


def _span(t, name, start, end, parent):
    t.spans.append(harness.Span(name, start, end, parent, None))
    return len(t.spans) - 1


def test_self_time_is_duration_minus_child_cover():
    t = harness.Tracer(True)
    root = _span(t, "root", 0.0, 10.0, None)
    _span(t, "a", 1.0, 3.0, root)
    b = _span(t, "b", 2.0, 5.0, root)   # overlaps a: union is 1..5
    _span(t, "c", 7.0, 8.0, root)
    _span(t, "grandchild", 2.5, 4.0, b)  # not a direct child of root
    assert t.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)
    assert t.self_time(b) == pytest.approx(3.0 - 1.5)


def test_live_spans_nest_and_record_parents():
    t = harness.Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.self_time(0) <= t.spans[0].duration
    off = harness.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_sketch_verdict_flags_only_the_rounding_tie():
    row = ("adj_nouns", "big", 47, 9.0252, 0.0312)
    twin = ("adj_nouns", "big", 47, 9.0252, 0.0313)
    assert sketch_serve.sketch_verdict([row], [row], 1504) == "ok"
    # 47 / 1504 = 0.03125 exactly: a 4-dp tie
    assert sketch_serve.sketch_verdict([row], [twin], 1504) == "known"
    assert sketch_serve.sketch_verdict([row], [twin], 1503) == "bad"
    assert sketch_serve.sketch_verdict([row], [], 1504) == "bad"
