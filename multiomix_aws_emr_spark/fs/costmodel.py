"""Learned per-star runtime prediction driving bin assignment (R30/R31).

The reference load-balances star evaluations with pre-trained regressors
that predict a star's CV wall time from (n_features, n_samples, kernel,
optimizer) (`scripts/metaheuristics.py:105-166` predict_execution_times_svm
builds exactly that feature row; `scripts/model_parameters.py:12-23`
declares the categorical SVMParameters; `:156-166` bins; `src/emr.py`
ships the .pkl models). This engine has no out-of-band model files, so the
regressor is SELF-FITTED from the observations the BBHA loop already
produces: every evaluated star yields an (n_features, exec_time) row, and
after the first iteration the model is fit closed-form and starts steering
`greedy_bin_assignment` — the same predict -> pack -> pin flow, minus the
joblib artifacts.

Model: one ridge quadratic width curve time ~ [1, f, f^2] (fitness cost
is super-linear in feature count at fixed data: the lstsq/Newton inside
the Cox fitness is O(n p^2 + p^3)), solved by normal equations on the
driver — a few dozen observations, microseconds to fit, no dependencies.
The reference's other features (n_samples, kernel, optimizer) are not
modelled: ``run_bbha`` trains a fresh model per run, and within one run
they are constant, so they could only shift every prediction alike and
never change a packing.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np

from multiomix_aws_emr_spark.plans.binpack import (
    greedy_bin_assignment,
    sequential_bin_assignment,
)

#: Observations required before predictions are trusted; also requires
#: >= 3 distinct feature counts so the quadratic is determined.
MIN_OBSERVATIONS = 6

#: Ridge added to the normal equations' diagonal.
RIDGE = 1e-6


class RuntimeCostModel:
    """Online-fitted predictor of per-star fitness wall time from the
    star's subset width."""

    def __init__(self):
        self._widths: list[float] = []
        self._seconds: list[float] = []

    def observe(self, n_features: int, seconds: float) -> None:
        """Record one completed star evaluation."""
        if seconds >= 0:
            self._widths.append(float(n_features))
            self._seconds.append(float(seconds))

    def ready(self) -> bool:
        """Enough signal to fit: MIN_OBSERVATIONS rows spanning >= 3
        distinct feature counts (a constant-width population can't train
        a width->time curve — sequential packing is correct there)."""
        return len(self._widths) >= MIN_OBSERVATIONS and len(set(self._widths)) >= 3

    def predict(self, n_features: int) -> float:
        """Predicted seconds for a star of the given width. Clamped to a
        small positive floor (greedy_bin_assignment treats negative
        predictions as a broken model and aborts, mirroring the
        reference's R32 guard — the clamp keeps an extrapolating quadratic
        from tripping it on tiny widths)."""
        f = np.array(self._widths)
        a = np.column_stack([np.ones_like(f), f, f * f])
        gram = a.T @ a + RIDGE * np.eye(3)
        beta = np.linalg.solve(gram, a.T @ np.array(self._seconds))
        w = float(n_features)
        return max(float(beta @ [1.0, w, w * w]), 1e-6)


def plan_star_bins(
    masks: Sequence[np.ndarray],
    n_bins: int,
    *,
    cost_fn=None,
    cost_model: RuntimeCostModel | None = None,
) -> tuple[dict[int, int], Mapping[int, float] | None]:
    """Choose the bin for every star: explicit ``cost_fn`` first (the
    injected-predictor seam), else the self-fitted ``cost_model`` once it
    is ready, else the reference's sequential fallback partitioner (R8).
    Returns (assignment, predicted costs or None)."""
    star_ids = list(range(len(masks)))
    if cost_fn is not None:
        costs = {i: float(cost_fn(masks[i])) for i in star_ids}
        return greedy_bin_assignment(costs, n_bins), costs
    if cost_model is not None and cost_model.ready():
        costs = {
            i: cost_model.predict(int(np.asarray(masks[i]).sum())) for i in star_ids
        }
        return greedy_bin_assignment(costs, n_bins), costs
    return sequential_bin_assignment(star_ids, n_bins), None
