"""Dependency-free survival models for the R26 fitness family.

The reference's primary fitness models are scikit-survival's
``FastKernelSurvivalSVM`` (ranking objective) and ``RandomSurvivalForest``
(`scripts/main.py:29-42` model switch, `:114-135` CV scoring). That
library is not in this engine's baked environment, so these are the same
model families implemented on NumPy alone, with the identical fitness
contract (higher risk score == earlier predicted failure, scored by
Harrell's C-index):

- :func:`rank_svm_fit` — linear survival SVM with the squared-hinge
  ranking objective over comparable pairs, the ``rank_ratio=1.0`` family
  of FastSurvivalSVM (Pölsterl et al., "Fast Training of Support Vector
  Machines for Survival Analysis", ECML PKDD 2015). Deterministic
  full-batch gradient descent — no RNG at all.
- :class:`SurvivalForest` — a random survival forest (Ishwaran et al.,
  "Random survival forests", Ann. Appl. Stat. 2008): bootstrap per tree,
  sqrt(p) feature sampling per split, log-rank split criterion, and
  Nelson-Aalen cumulative-hazard "ensemble mortality" as the risk score.
  Seeded ``RandomState`` per tree — deterministic for a given seed.
  Structural hyperparameter defaults mirror the reference's
  (`scripts/main.py:30-35`: min_samples_split=10, min_samples_leaf=15,
  max_features="sqrt").

These are model code only: ``cv_rank_svm_fitness`` and
``cv_survival_forest_fitness`` score them through the shared CV loop,
:func:`multiomix_aws_emr_spark.fs.fitness.cv_mean_score`. When
scikit-survival IS importable, :mod:`multiomix_aws_emr_spark.fs
.sksurv_backend` wires the real library through the same loop and
``FitnessFn`` seam and takes precedence (reference parity); these
implementations keep ``--model svm|rf`` runnable everywhere.
"""

from __future__ import annotations

import numpy as np


# --------------------------------------------------------------------------
# Ranking survival SVM (linear, squared hinge)
# --------------------------------------------------------------------------


def _comparable_pairs(time: np.ndarray, event: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Indices (i, j) with time_i < time_j and event_i — the pair set the
    ranking objective sums over (same comparability rule as the C-index),
    in row-major (i, j) order."""
    return np.nonzero(event[:, None] & (time[None, :] > time[:, None]))


def rank_svm_fit(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    *,
    alpha: float = 1.0,
    max_iter: int = 200,
    tol: float = 1e-6,
) -> np.ndarray:
    """Fit w minimizing  alpha/2 ||w||^2 + mean_P relu(1 - d_ij w)^2  where
    d_ij = x_i - x_j over comparable pairs P (earlier-failing sample should
    score at least 1 higher). Returns the weight vector; predict risk with
    ``x @ w``.

    Full-batch gradient descent with a Lipschitz step — deterministic,
    converges on the convex objective. The pair differences are never
    formed (Pölsterl et al. 2015): ``d_ij w = s_i - s_j`` with
    ``s = x @ w``, and the gradient's pair sum folds back onto samples,
    ``xᵀ (bincount(i, m) - bincount(j, m))``, so each step costs O(n p +
    |P|) rather than O(|P| p).
    """
    x = np.asarray(x, dtype=np.float64)
    time = np.asarray(time, dtype=np.float64)
    event = np.asarray(event, dtype=bool)
    ii, jj = _comparable_pairs(time, event)
    n, p = x.shape
    if len(ii) == 0:
        return np.zeros(p)
    n_pairs = len(ii)
    # Lipschitz constant of the gradient: alpha + 2 sigma_max(d)^2 / |P|,
    # bounded by the Frobenius norm sum_P ||x_i - x_j||^2 (cheap, safe
    # overestimate), expanded through row norms and the Gram matrix.
    sq = np.einsum("ij,ij->i", x, x)
    gram = x @ x.T
    lip = alpha + 2.0 * float((sq[ii] + sq[jj] - 2.0 * gram[ii, jj]).sum()) / n_pairs
    step = 1.0 / lip
    w = np.zeros(p)
    prev = np.inf
    for _ in range(max_iter):
        s = x @ w
        margin = 1.0 - (s[ii] - s[jj])
        active = margin > 0
        m = np.where(active, margin, 0.0)
        loss = 0.5 * alpha * float(w @ w) + float(
            (margin[active] ** 2).sum()
        ) / n_pairs
        coef = np.bincount(ii, m, n) - np.bincount(jj, m, n)
        grad = alpha * w - (2.0 / n_pairs) * (x.T @ coef)
        w -= step * grad
        if abs(prev - loss) < tol * max(1.0, abs(prev)):
            break
        prev = loss
    return w


# --------------------------------------------------------------------------
# Random survival forest
# --------------------------------------------------------------------------


def _logrank_split_score(
    left: np.ndarray, time: np.ndarray, event: np.ndarray
) -> float:
    """Two-group log-rank statistic for a candidate split (vectorized over
    the node's unique event times). Higher == better separation."""
    et = np.unique(time[event])
    if len(et) == 0:
        return 0.0
    # at-risk and death counts per event time, per side
    t_col = time[:, None]
    at_risk = t_col >= et[None, :]
    dies = (t_col == et[None, :]) & event[:, None]
    n_j = at_risk.sum(axis=0).astype(float)
    d_j = dies.sum(axis=0).astype(float)
    n1_j = at_risk[left].sum(axis=0).astype(float)
    d1_j = dies[left].sum(axis=0).astype(float)
    valid = n_j > 0
    expected = d_j[valid] * n1_j[valid] / n_j[valid]
    observed = d1_j[valid]
    # hypergeometric variance of d1 at each event time
    nv, dv, n1v = n_j[valid], d_j[valid], n1_j[valid]
    with np.errstate(divide="ignore", invalid="ignore"):
        var = np.where(
            nv > 1,
            dv * (n1v / nv) * (1 - n1v / nv) * (nv - dv) / np.maximum(nv - 1, 1),
            0.0,
        )
    v = float(var.sum())
    if v <= 0:
        return 0.0
    u = float((observed - expected).sum())
    return (u * u) / v


def _nelson_aalen_mortality(time: np.ndarray, event: np.ndarray, grid: np.ndarray) -> float:
    """Ensemble-mortality summand for a terminal node: the node's
    Nelson-Aalen cumulative hazard evaluated and summed over the forest's
    event-time grid (Ishwaran §4 — a scalar risk; higher == worse)."""
    et = np.unique(time[event])
    if len(et) == 0:
        return 0.0
    d = np.array([(event & (time == t)).sum() for t in et], dtype=float)
    n = np.array([(time >= t).sum() for t in et], dtype=float)
    increments = d / np.maximum(n, 1.0)
    chf_at = np.cumsum(increments)
    # step-function CHF evaluated on the shared grid
    idx = np.searchsorted(et, grid, side="right") - 1
    vals = np.where(idx >= 0, chf_at[np.clip(idx, 0, None)], 0.0)
    return float(vals.sum())


class _Node:
    __slots__ = ("feature", "threshold", "left", "right", "mortality")

    def __init__(self):
        self.feature = -1
        self.threshold = 0.0
        self.left = None
        self.right = None
        self.mortality = 0.0


class SurvivalForest:
    """Random survival forest with log-rank splits and ensemble mortality.

    Defaults mirror the reference's RandomSurvivalForest construction
    (`scripts/main.py:30-35`): ``min_samples_split=10``,
    ``min_samples_leaf=15``, ``max_features="sqrt"``; ``n_estimators``
    is the reference's ``rf_n_estimators`` parameter.
    """

    def __init__(
        self,
        n_estimators: int = 10,
        *,
        max_depth: int = 4,
        min_samples_split: int = 10,
        min_samples_leaf: int = 15,
        n_thresholds: int = 16,
        random_state: int = 42,
    ):
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.min_samples_split = min_samples_split
        self.min_samples_leaf = min_samples_leaf
        self.n_thresholds = n_thresholds
        self.random_state = random_state
        self._trees: list[_Node] = []
        self._grid: np.ndarray | None = None

    def _build(
        self,
        x: np.ndarray,
        time: np.ndarray,
        event: np.ndarray,
        rng: np.random.RandomState,
        depth: int,
    ) -> _Node:
        node = _Node()
        n, p = x.shape
        if (
            depth >= self.max_depth
            or n < self.min_samples_split
            or not event.any()
        ):
            node.mortality = _nelson_aalen_mortality(time, event, self._grid)
            return node
        m = max(1, int(np.sqrt(p)))
        features = rng.choice(p, size=m, replace=False)
        best = (0.0, -1, 0.0)  # (score, feature, threshold)
        for f in features:
            col = x[:, f]
            qs = np.unique(
                np.quantile(col, np.linspace(0.05, 0.95, self.n_thresholds))
            )
            for thr in qs:
                left = col <= thr
                nl = int(left.sum())
                if nl < self.min_samples_leaf or n - nl < self.min_samples_leaf:
                    continue
                score = _logrank_split_score(left, time, event)
                if score > best[0]:
                    best = (score, int(f), float(thr))
        if best[1] < 0:
            node.mortality = _nelson_aalen_mortality(time, event, self._grid)
            return node
        _, f, thr = best
        node.feature, node.threshold = f, thr
        left = x[:, f] <= thr
        node.left = self._build(x[left], time[left], event[left], rng, depth + 1)
        node.right = self._build(x[~left], time[~left], event[~left], rng, depth + 1)
        return node

    def fit(self, x: np.ndarray, time: np.ndarray, event: np.ndarray) -> "SurvivalForest":
        x = np.asarray(x, dtype=np.float64)
        time = np.asarray(time, dtype=np.float64)
        event = np.asarray(event, dtype=bool)
        self._grid = np.unique(time[event])
        if len(self._grid) == 0:
            self._grid = np.unique(time)
        self._trees = []
        n = x.shape[0]
        for t in range(self.n_estimators):
            rng = np.random.RandomState(self.random_state + 1013 * t)
            boot = rng.randint(0, n, size=n)
            self._trees.append(
                self._build(x[boot], time[boot], event[boot], rng, 0)
            )
        return self

    def _score_one(self, node: _Node, row: np.ndarray) -> float:
        while node.left is not None:
            node = node.left if row[node.feature] <= node.threshold else node.right
        return node.mortality

    def predict_risk(self, x: np.ndarray) -> np.ndarray:
        """Ensemble mortality per row (mean over trees): higher == higher
        risk == earlier predicted failure."""
        x = np.asarray(x, dtype=np.float64)
        out = np.zeros(x.shape[0])
        for tree in self._trees:
            out += np.array([self._score_one(tree, r) for r in x])
        return out / max(len(self._trees), 1)


# --------------------------------------------------------------------------
# Cox proportional hazards (partial likelihood, Breslow ties)
# --------------------------------------------------------------------------


def cox_ph_fit(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    *,
    ridge: float = 1e-4,
    max_iter: int = 25,
    tol: float = 1e-8,
) -> np.ndarray:
    """Newton-Raphson fit of the Cox proportional-hazards model on the
    Breslow partial likelihood — the actual model family behind the
    reference's CoxPHFitter scoring (`scripts/main.py:97-102`, R27),
    implemented on NumPy alone. Deterministic (no RNG); a small ridge
    keeps the Hessian invertible on separable or collinear subsets.
    Returns beta; predict risk with ``x @ beta`` (higher == earlier
    failure — the same orientation every fitness here scores).

    Tie handling is a documented deviation: lifelines' CoxPHFitter FITS
    with the Efron approximation by default, this fit uses Breslow (a
    simpler prefix-sum Newton step); with tied event times the two
    converge to slightly different beta. The log_likelihood SCORER
    (`fs/fitness._cox_partial_loglik_mean`) does use Efron, so a given
    beta is scored under lifelines' convention.
    """
    x = np.asarray(x, dtype=np.float64)
    time = np.asarray(time, dtype=np.float64)
    event = np.asarray(event, dtype=bool)
    n, p = x.shape
    if p == 0 or not event.any():
        return np.zeros(p)
    # sort descending by time: the risk set of time t is then a prefix,
    # so cumulative sums give every denominator in one pass
    order = np.argsort(-time, kind="mergesort")
    xs, ts, es = x[order], time[order], event[order]

    beta = np.zeros(p)
    prev_ll = -np.inf
    for _ in range(max_iter):
        eta = xs @ beta
        eta -= eta.max()  # overflow guard; cancels in all ratios
        w = np.exp(eta)
        s0 = np.cumsum(w)                      # sum_{risk set} exp(eta)
        s1 = np.cumsum(w[:, None] * xs, axis=0)  # weighted feature sums
        # Breslow: all events at a tied time share the denominator of the
        # FULL risk set at that time == the last index of the tie block
        last_of_block = np.searchsorted(-ts, -ts, side="right") - 1
        d0 = s0[last_of_block][es]
        d1 = s1[last_of_block][es]
        xbar = d1 / d0[:, None]
        ll = float((eta[es] - np.log(d0)).sum()) - 0.5 * ridge * float(
            beta @ beta
        )
        grad = (xs[es] - xbar).sum(axis=0) - ridge * beta
        # observed information: sum_events (S2/S0 - xbar xbar^T)
        s2_rows = np.cumsum(
            w[:, None, None] * (xs[:, :, None] * xs[:, None, :]), axis=0
        )
        d2 = s2_rows[last_of_block][es]
        info = (
            d2 / d0[:, None, None] - xbar[:, :, None] * xbar[:, None, :]
        ).sum(axis=0) + ridge * np.eye(p)
        step = np.linalg.solve(info, grad)
        # step-halving keeps the ascent monotone on hard subsets: accept a
        # candidate only when its log-likelihood is FINITE and >= current
        # (a non-finite ll_c means the step overflowed — keep halving);
        # if every halving fails, keep the previous beta unchanged. A risk
        # set whose exp(eta) sum underflowed to 0 would make ll_c
        # non-finite, so it is rejected before taking log(0).
        accepted = False
        for _ in range(10):
            cand = beta + step
            eta_c = xs @ cand
            eta_c -= eta_c.max()
            w_c = np.exp(eta_c)
            d0_c = np.cumsum(w_c)[last_of_block][es]
            if (d0_c > 0).all():
                ll_c = float(
                    (eta_c[es] - np.log(d0_c)).sum()
                ) - 0.5 * ridge * float(cand @ cand)
                if np.isfinite(ll_c) and ll_c >= ll:
                    accepted = True
                    break
            step = step / 2.0
        if not accepted:
            break
        beta = beta + step
        if abs(ll - prev_ll) < tol * max(1.0, abs(prev_ll)):
            break
        prev_ll = ll
    return beta
