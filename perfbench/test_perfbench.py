"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from perfbench import stats, trace, workloads


def _inputs(seed):
    corpus = np.random.default_rng(0).normal(size=(50, 8))
    return workloads.Inputs(seed, workloads.SCAN_EXEC, corpus)


def _draw(inputs, passes=3, requests=5):
    orders = [inputs.order() for _ in range(passes)]
    return orders, [inputs.request().tolist() for _ in range(requests)]


def test_same_seed_same_order_and_vectors():
    assert _draw(_inputs(7)) == _draw(_inputs(7))


def test_other_seed_other_order_and_vectors():
    orders_a, reqs_a = _draw(_inputs(7))
    orders_b, reqs_b = _draw(_inputs(8))
    assert orders_a != orders_b
    assert reqs_a != reqs_b


def test_order_is_a_permutation_of_the_workload():
    for order in _draw(_inputs(3))[0]:
        assert sorted(order) == sorted(workloads.SCAN_EXEC)


def test_request_is_a_corpus_row_plus_small_noise():
    corpus = np.random.default_rng(0).normal(size=(50, 8))
    vec = workloads.Inputs(1, [], corpus).request()
    nearest = np.min(np.linalg.norm(corpus - vec, axis=1))
    assert nearest < 5 * workloads.SERVE_NOISE * math.sqrt(8)


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([2.5]) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_covered_merges_overlaps_and_clips_to_the_span():
    # children [1,3] and [2,5] overlap; [9,12] sticks out past the end
    assert trace.covered(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (9.0, 12.0)]) == 5.0
    assert trace.covered(0.0, 10.0, []) == 0.0
    assert trace.covered(0.0, 10.0, [(11.0, 12.0)]) == 0.0


def test_self_time_is_duration_minus_child_cover():
    parent = trace.Span("q/build", 0.0, 10.0)
    kids = [trace.Span("job", 1.0, 3.0), trace.Span("job", 2.0, 5.0),
            trace.Span("job", 7.0, 8.0)]
    assert trace.self_time(parent, kids) == pytest.approx(10.0 - 5.0)
    assert trace.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_spans_with_attrs():
    tr = trace.Tracer(True)
    with tr.span("a", op="x"):
        pass
    (sp,) = tr.spans
    assert sp.attrs == {"op": "x"} and sp.start <= sp.end


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_ops_name_every_timed_operation_once():
    ops = workloads.WORKLOADS["driver_fit"].ops
    assert len(ops) == len(set(ops))
    assert {"write_ivf_index", "serve_ivf"} <= set(ops)
    assert {"write_bronze", "write_silver"} <= set(
        workloads.WORKLOADS["scan_exec"].ops
    )


def test_check_query_compares_normal_forms():
    expected = (["a", "b"], [("1", "2.000000000")])
    assert workloads.check_query(expected, ["b", "a"], [(2.0, 1)]) is None
    assert workloads.check_query(expected, ["a", "b"], [(1, 2.5)]) is not None
    assert workloads.check_query(expected, ["a"], [(1,)]) is not None


def test_check_serve_accepts_exact_topk_and_rejects_bad_scores():
    rng = np.random.default_rng(0)
    corpus = rng.normal(size=(40, 8))
    query = corpus[3] + 0.01
    exact = corpus @ (query / np.linalg.norm(query)) / np.linalg.norm(corpus, axis=1)
    top = np.argsort(-exact)[: workloads.SERVE_K]
    rows = [{"vec_id": int(i), "cosine": round(float(exact[i]), 6)} for i in top]
    problem, recall = workloads.check_serve(rows, query, corpus)
    assert problem is None and recall == 1.0
    rows[0] = {"vec_id": rows[0]["vec_id"], "cosine": rows[0]["cosine"] + 0.1}
    problem, _ = workloads.check_serve(rows, query, corpus)
    assert problem is not None
