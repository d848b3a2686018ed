import pytest

from multiomix_aws_emr_spark.plans.binpack import (
    bin_loads,
    greedy_bin_assignment,
    sequential_bin_assignment,
)


def test_greedy_golden():
    costs = {0: 5.0, 1: 3.0, 2: 2.0, 3: 2.0}
    a = greedy_bin_assignment(costs, 2)
    assert a == {0: 0, 1: 1, 2: 1, 3: 0}
    assert bin_loads(costs, a, 2) == [7.0, 5.0]


def test_greedy_deterministic_and_balanced():
    costs = {i: float((i * 7) % 13 + 1) for i in range(50)}
    a1 = greedy_bin_assignment(costs, 4)
    a2 = greedy_bin_assignment(costs, 4)
    assert a1 == a2
    loads = bin_loads(costs, a1, 4)
    # LPT guarantee: max load <= (4/3 - 1/3m) * optimal; just sanity-check
    # spread is tight for this uniform-ish input.
    assert max(loads) - min(loads) <= max(costs.values())


def test_negative_cost_aborts():
    # mirrors the reference's negative-prediction guard (R32)
    with pytest.raises(ValueError, match="negative"):
        greedy_bin_assignment({0: 1.0, 1: -0.5}, 2)


def test_sequential_partitioner():
    # key * W // N (metaheuristics.py:290)
    assert sequential_bin_assignment([0, 1, 2, 3], 2) == {0: 0, 1: 0, 2: 1, 3: 1}
    assert sequential_bin_assignment([], 3) == {}
    assert set(sequential_bin_assignment(list(range(10)), 3).values()) == {0, 1, 2}


def test_runtime_cost_model_learns_width_curve():
    """R30: the self-fitted regressor recovers a quadratic width->time
    relationship and predicts monotone-increasing costs."""
    import numpy as np

    from multiomix_aws_emr_spark.fs.costmodel import RuntimeCostModel

    model = RuntimeCostModel()
    assert not model.ready()
    for f in (2, 5, 8, 12, 20, 30, 40):
        model.observe(f, 0.01 + 0.002 * f + 0.0005 * f * f)
    assert model.ready()
    preds = [model.predict(f) for f in (3, 10, 25, 35)]
    assert all(b > a for a, b in zip(preds, preds[1:]))
    # close on an in-range width (exact-family fit, tiny ridge)
    assert abs(model.predict(10) - (0.01 + 0.02 + 0.05)) < 1e-3
    # never negative, even extrapolating to width 0 (R32 guard)
    assert model.predict(0) > 0


def test_plan_star_bins_balances_better_than_sequential():
    """The learned-cost greedy packing must beat the sequential fallback
    on a skewed-width population (max/min bin-load ratio)."""
    import numpy as np

    from multiomix_aws_emr_spark.fs.costmodel import (
        RuntimeCostModel,
        plan_star_bins,
    )
    from multiomix_aws_emr_spark.plans.binpack import bin_loads

    rng = np.random.RandomState(0)
    # widths clustered: sequential order puts all the wide stars together
    widths = [2, 2, 2, 2, 50, 50, 50, 50]
    masks = []
    for w in widths:
        m = np.zeros(64, dtype=np.int32)
        m[:w] = 1
        masks.append(m)

    model = RuntimeCostModel()
    for f in (2, 10, 25, 50, 60, 4, 30):
        model.observe(f, 0.01 * f * f)  # strongly quadratic
    true_costs = {i: 0.01 * w * w for i, w in enumerate(widths)}

    greedy_bins, _ = plan_star_bins(masks, 4, cost_model=model)
    seq_bins, pred = plan_star_bins(masks, 4, cost_model=None)
    assert pred is None  # fell back to sequential
    g = [l for l in bin_loads(true_costs, greedy_bins, 4)]
    s = [l for l in bin_loads(true_costs, seq_bins, 4)]
    assert max(g) / max(min(g), 1e-9) < max(s) / max(min(s), 1e-9)
    assert max(g) < max(s)  # strictly lower makespan


def test_bbha_auto_cost_model_engages_after_first_iteration(spark):
    """Integration: a BBHA run trains the model from iteration-0
    observations; by the end it is ready and predicting positives, and
    results stay identical to a run with binning disabled (binning must
    never change WHAT is computed, only WHERE)."""
    import numpy as np
    import pandas as pd

    from multiomix_aws_emr_spark.fs.bbha import run_bbha

    rng = np.random.RandomState(1)
    n_s, n_f = 24, 12
    x = pd.DataFrame(
        rng.normal(size=(n_s, n_f)),
        index=[f"S{i}" for i in range(n_s)],
        columns=[f"G{i}" for i in range(n_f)],
    )
    time = 10 + 3 * x["G0"].to_numpy() + rng.normal(0, 0.1, n_s)
    event = np.ones(n_s, dtype=bool)

    r_auto = run_bbha(
        spark, x, time, event, n_stars=6, n_iterations=3, random_state=5,
        n_bins=3,
    )
    r_onebin = run_bbha(
        spark, x, time, event, n_stars=6, n_iterations=3, random_state=5,
        n_bins=1,
    )
    r_four = run_bbha(
        spark, x, time, event, n_stars=6, n_iterations=3, random_state=5,
        n_bins=4,
    )
    assert r_auto.best_fitness == r_onebin.best_fitness == r_four.best_fitness
    assert [h["fitness"] for h in r_auto.history] == [
        h["fitness"] for h in r_onebin.history
    ]
    # bins decide which task runs a star, never what it computes
    key = lambda h: (h["iteration"], h["star_id"], h["fitness"], h["n_features"])  # noqa: E731
    assert [key(h) for h in r_four.history] == [key(h) for h in r_onebin.history]
    assert (r_four.best_mask == r_onebin.best_mask).all()
