"""Tests of the benchmark's own pieces; none starts Spark.

    python3 -m pytest vecbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pytest

from vecbench import gen, oracle, stats

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


# -- generators ----------------------------------------------------------


def test_knn_inputs_deterministic_per_seed():
    a = gen.knn_inputs(7, 300, 16, 20)
    b = gen.knn_inputs(7, 300, 16, 20)
    c = gen.knn_inputs(8, 300, 16, 20)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    assert not np.array_equal(a[0], c[0])
    assert not np.array_equal(a[1], c[1])
    assert a[0].dtype == np.float32 and a[0].min() >= -1 and a[0].max() <= 1


def test_churn_inputs_deterministic_per_seed():
    args = (300, 16, 3, 40, 5, 20)
    a = gen.churn_inputs(1, *args)
    b = gen.churn_inputs(1, *args)
    c = gen.churn_inputs(2, *args)
    flat = lambda t: [t[0], *t[1], *t[2], t[3]]  # noqa: E731
    assert all(np.array_equal(x, y) for x, y in zip(flat(a), flat(b)))
    assert not all(np.array_equal(x, y) for x, y in zip(flat(a), flat(c)))


def test_churn_removals_stay_inside_the_live_table():
    n, add, rem = 50, 10, 7
    _, adds, removes, _ = gen.churn_inputs(3, n, 4, 4, add, rem, 5)
    live = n
    for batch, drop in zip(adds, removes):
        live += len(batch)
        assert len(set(drop.tolist())) == rem
        assert drop.min() >= 0 and drop.max() < live
        live -= rem


# -- tail percentile -----------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    value, pct = stats.tail(xs)
    assert sum(x > value for x in xs) == stats.TAIL_MIN_BEYOND
    assert value == 20 and pct == pytest.approx(100 * 20 / 30)


def test_tail_is_order_independent_and_exact_at_eleven():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    value, pct = stats.tail(xs)
    assert value == 1.0 and pct == pytest.approx(100 / 11)


def test_tail_without_enough_samples_is_the_max_at_p100():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


# -- metric names --------------------------------------------------------


def test_metric_names_are_well_formed_and_unique():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_setup_metric_has_the_largest_bound():
    e2e = {m["name"]: m for m in _spec()["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())


def test_every_declared_layer_is_produced_by_both_workloads():
    from vecbench import workloads

    produced = {"session.start_s", "session.empty_job_ms", "sources.gen_s",
                "trace.overhead_frac", *workloads.KNN_LAYERS, *workloads.CHURN_LAYERS}
    assert {m["name"] for m in _spec()["per_layer"]} == produced
    assert {w["name"] for w in _spec()["workloads"]} == set(workloads.WORKLOADS)


# -- oracle --------------------------------------------------------------


def _case(seed=0, n=400, nq=6, d=16, k=10):
    rng = np.random.default_rng(seed)
    X = gen.uniform(rng, n, d)
    Q = gen.uniform(rng, nq, d)
    dist = oracle.sq_dists(Q, X)
    D, L = oracle.topk(dist, k)
    return dist, D.astype(np.float32), L


def test_oracle_accepts_the_exact_result():
    dist, D, L = _case()
    assert oracle.check_flat(D, L, dist, oracle.TOL_FP32) == []
    assert oracle.check_ann(D, L, dist) == []
    assert oracle.recall(L, L) == 1.0


@pytest.mark.parametrize("corrupt", ["swap_top1", "label", "distance", "order"])
def test_oracle_flags_a_corrupted_result(corrupt):
    dist, D, L = _case()
    D, L = D.copy(), L.copy()
    if corrupt == "swap_top1":
        L[0, [0, -1]] = L[0, [-1, 0]]
    elif corrupt == "label":
        L[1, 3] = dist.shape[1]  # out of range
    elif corrupt == "distance":
        D[2, 4] *= 1.01
    else:
        D[3, [2, 5]] = D[3, [5, 2]]
        L[3, [2, 5]] = L[3, [5, 2]]
    assert oracle.check_flat(D, L, dist, oracle.TOL_FP32)
    assert oracle.check_ann(D, L, dist)


def test_ann_check_allows_padding_but_flags_duplicates():
    dist, D, L = _case()
    D[:, -1], L[:, -1] = np.inf, -1
    assert oracle.check_ann(D, L, dist) == []
    L[0, 1] = L[0, 0]
    D[0, 1] = D[0, 0]
    assert oracle.check_ann(D, L, dist)


def test_fp16_tolerance_admits_quantized_distances():
    rng = np.random.default_rng(4)
    X = gen.uniform(rng, 500, 32)
    Q = gen.uniform(rng, 4, 32)
    norms = np.einsum("ij,ij->i", X.astype(np.float64), X.astype(np.float64))
    X16 = X.astype(np.float16).astype(np.float32)
    D, L = oracle.topk(oracle.sq_dists(Q, X16, norms), 10)
    assert oracle.check_flat(D, L, oracle.sq_dists(Q, X16, norms), oracle.TOL_FP16) == []
    assert oracle.recall(L, oracle.topk(oracle.sq_dists(Q, X), 10)[1]) > 0.8
