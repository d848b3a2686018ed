"""Fitness functions for survival feature selection.

The reference scores a candidate feature subset with cross-validated
survival models — survival SVM / random survival forest
(`scripts/main.py:114-135`, R26) or clustering + Cox proportional hazards
(`scripts/main.py:79-112`, R27) — returning the mean test concordance
index. Those model libraries (scikit-survival, lifelines) are not part of
this engine's baked environment, so the built-in fitness is a
dependency-free equivalent with the same contract: deterministic k-fold CV
-> fit a risk model on train -> concordance index on test -> mean across
folds. That loop is written once, :func:`cv_mean_score`; each family
supplies only its per-fold scorer. Heavier model backends plug in behind
the same signature (gated by import-try, mirroring the reference's
pluggable ``--model`` switch, `scripts/main.py:29-42`).

Determinism notes (SURVEY.md §4.2.2): CV folds are assigned by
``crc32(sample_id) % k`` — stable across engines, partitions, and runs,
unlike ``randomSplit`` or sklearn's internal shuffling.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable

import numpy as np

#: Fitness assigned to an empty feature subset — the reference's
#: zero-feature guard returns the worst value without evaluating
#: (`scripts/core.py:52-77`, R13). -1.0 is a safe sentinel for every
#: bounded-in-[0,1] scoring (C-index, squashed log-rank); scorings that
#: are unbounded below (``log_likelihood``) must use
#: :data:`NEG_INF_FITNESS` instead — the reference's own error score
#: (`scripts/core.py:17` NEG_INF, `scripts/main.py:69`) — or a valid
#: subset scoring below -1 would rank WORSE than the empty subset.
WORST_FITNESS = -1.0

#: The reference's NEG_INF error/empty sentinel (`scripts/core.py:17`),
#: required whenever the scoring is unbounded below.
NEG_INF_FITNESS = float("-inf")

#: A fitness function: ``(x[:, subset], time, event, sample_ids) ->
#: score``, higher is better. Every ``cv_*`` family below and
#: ``sksurv_backend.make_fitness`` produce one.
FitnessFn = Callable[[np.ndarray, np.ndarray, np.ndarray, np.ndarray], float]


def concordance_index(
    risk: np.ndarray, time: np.ndarray, event: np.ndarray
) -> float:
    """Harrell's C-index: fraction of comparable pairs ordered correctly.

    A pair (i, j) is comparable when the earlier time has an observed event
    (time_i < time_j and event_i). Concordant when the earlier-failing
    sample has the higher risk score; ties in risk count 0.5.
    """
    time = np.asarray(time, dtype=float)
    event = np.asarray(event, dtype=bool)
    risk = np.asarray(risk, dtype=float)
    n = len(time)
    concordant = 0.0
    comparable = 0
    for i in range(n):
        if not event[i]:
            continue
        later = time > time[i]
        comparable += int(later.sum())
        concordant += float((risk[later] < risk[i]).sum())
        concordant += 0.5 * float((risk[later] == risk[i]).sum())
    if comparable == 0:
        return 0.5
    return concordant / comparable


def deterministic_folds(sample_ids: np.ndarray, k: int, seed: int) -> np.ndarray:
    """Stable fold assignment: crc32(sample_id) + seed mod k."""
    return np.array(
        [(zlib.crc32(str(s).encode()) + seed) % k for s in sample_ids],
        dtype=int,
    )


def cv_mean_score(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    sample_ids: np.ndarray,
    score_fold: Callable[[np.ndarray, np.ndarray, np.ndarray, np.ndarray], float],
    *,
    folds: int,
    seed: int,
    min_train: int = 2,
    standardize: bool = True,
    worst: float = WORST_FITNESS,
) -> float:
    """The CV loop every fitness family shares: the empty-subset guard
    (R13), ``deterministic_folds``, a skip for folds with fewer than
    ``min_train`` train or 2 test rows, float features standardized on
    the train fold (when ``standardize``), then
    ``score_fold(train, test, xtr, xte)`` per fold (boolean row masks and
    the fold's feature blocks). Returns the mean fold score — the
    reference's mean ``cross_validate`` test score
    (`scripts/main.py:130-135`) — or ``worst`` when no fold scored."""
    if x.ndim != 2 or x.shape[1] == 0:
        return worst
    fold_of = deterministic_folds(sample_ids, folds, seed)
    scores = []
    for f in range(folds):
        train, test = fold_of != f, fold_of == f
        if train.sum() < min_train or test.sum() < 2:
            continue
        xtr, xte = x[train].astype(float), x[test].astype(float)
        if standardize:
            mu, sigma = xtr.mean(axis=0), xtr.std(axis=0)
            sigma[sigma == 0] = 1.0
            xtr, xte = (xtr - mu) / sigma, (xte - mu) / sigma
        scores.append(score_fold(train, test, xtr, xte))
    return float(np.mean(scores)) if scores else worst


def _linear_risk_cv(x, time, event, sample_ids, fit, *, folds, seed) -> float:
    """CV of a linear risk model: ``fit(xtr, time, event) -> weights`` on
    the standardized train fold, test C-index of ``xte @ weights``."""

    def score(train, test, xtr, xte):
        w = fit(xtr, time[train], event[train])
        return concordance_index(xte @ w, time[test], event[test])

    return cv_mean_score(x, time, event, sample_ids, score, folds=folds, seed=seed)


def cv_linear_cox_fitness(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    sample_ids: np.ndarray,
    *,
    folds: int = 3,
    seed: int = 42,
) -> float:
    """Built-in fitness: k-fold CV of a least-squares linear risk model.

    Train: ridge-regularized lstsq of standardized features onto -time
    (higher predicted value == higher risk == earlier failure), the linear
    risk-score family Cox models also fit. Test: Harrell's C-index of the
    predicted risk. Returns the mean test C-index across folds — the same
    'mean cross_validate test score' contract as the reference
    (`scripts/main.py:130-135`).
    """

    def ridge(xtr, t, e):
        # ridge via augmented lstsq: [X; sqrt(lam) I] beta = [-t; 0]
        lam = 1e-3
        aug = np.vstack([xtr, np.sqrt(lam) * np.eye(xtr.shape[1])])
        target = np.concatenate([-t, np.zeros(xtr.shape[1])])
        return np.linalg.lstsq(aug, target, rcond=None)[0]

    return _linear_risk_cv(x, time, event, sample_ids, ridge, folds=folds, seed=seed)


def cv_coxph_fitness(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    sample_ids: np.ndarray,
    *,
    folds: int = 3,
    seed: int = 42,
) -> float:
    """R27's actual model family: Cox proportional hazards fit by Newton
    iterations on the Breslow partial likelihood
    (fs/survival_models.cox_ph_fit — the reference scores CoxPHFitter at
    `scripts/main.py:97-102`), k-fold CV, mean test C-index. The
    least-squares ``cv_linear_cox_fitness`` remains the cheap default for
    BBHA inner loops; this one is the model-faithful tier."""
    from multiomix_aws_emr_spark.fs.survival_models import cox_ph_fit

    return _linear_risk_cv(
        x, time, event, sample_ids, cox_ph_fit, folds=folds, seed=seed
    )


def cv_rank_svm_fitness(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    sample_ids: np.ndarray,
    *,
    folds: int = 3,
    seed: int = 42,
    alpha: float = 1.0,
    max_iter: int = 200,
) -> float:
    """R26 SVM family (`scripts/main.py:36-40` FastKernelSurvivalSVM with
    rank_ratio=1.0, scored at `:114-135`): k-fold CV of the linear ranking
    survival SVM, mean test C-index. Dependency-free implementation in
    :mod:`multiomix_aws_emr_spark.fs.survival_models`; the sksurv-backed
    twin (used when the library is installed) lives in
    :mod:`multiomix_aws_emr_spark.fs.sksurv_backend`."""
    from multiomix_aws_emr_spark.fs.survival_models import rank_svm_fit

    def fit(xtr, t, e):
        return rank_svm_fit(xtr, t, e, alpha=alpha, max_iter=max_iter)

    return _linear_risk_cv(x, time, event, sample_ids, fit, folds=folds, seed=seed)


def cv_survival_forest_fitness(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    sample_ids: np.ndarray,
    *,
    folds: int = 3,
    seed: int = 42,
    n_estimators: int = 10,
    min_samples_leaf: int = 15,
) -> float:
    """R26 RF family (`scripts/main.py:30-35` RandomSurvivalForest, scored
    at `:114-135`): k-fold CV of the random survival forest, mean test
    C-index on ensemble mortality. Leaf-size default mirrors the
    reference's min_samples_leaf=15."""
    from multiomix_aws_emr_spark.fs.survival_models import SurvivalForest

    def score(train, test, xtr, xte):
        forest = SurvivalForest(
            n_estimators=n_estimators,
            min_samples_leaf=min_samples_leaf,
            random_state=seed,
        ).fit(xtr, time[train], event[train])
        return concordance_index(forest.predict_risk(xte), time[test], event[test])

    # a forest needs enough rows to split; tiny folds score as skipped
    return cv_mean_score(
        x, time, event, sample_ids, score, folds=folds, seed=seed,
        min_train=2 * min_samples_leaf, standardize=False,
    )


def _kmeans_deterministic(
    x: np.ndarray, ids: np.ndarray, k: int, *, iters: int = 10
) -> np.ndarray:
    """Tiny deterministic k-means: centroids seeded by the k samples with
    the smallest (crc32(id), id) — stable across row order, partitioning,
    and engines (no RNG) — then Lloyd iterations. Returns centroids."""
    order = np.lexsort((ids, np.array([zlib.crc32(str(s).encode()) for s in ids])))
    cent = x[order[:k]].astype(float).copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for g in range(k):
            m = lab == g
            if m.any():
                cent[g] = x[m].mean(axis=0)
    return cent


def _spectral_embedding(x: np.ndarray, k: int, *, gamma: float | None = None) -> np.ndarray:
    """NumPy spectral embedding: RBF affinity -> normalized Laplacian
    L_sym = I - D^-1/2 W D^-1/2 -> k smallest eigenvectors, row-normalized.

    The classic Ng-Jordan-Weiss construction (public algorithm; the
    reference selects sklearn's SpectralClustering as its second
    clustering family, `scripts/main.py:49,83-84` — sklearn is not in
    this container, so the embedding is computed directly). O(n^2)
    affinity + O(n^3) eigh is fine at fitness-evaluation scale: the
    metaheuristic scores a few hundred samples per subset, never the
    full table."""
    n, p = x.shape
    if gamma is None:
        gamma = 1.0 / max(1, p)  # sklearn's default RBF width
    sq = ((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
    w = np.exp(-gamma * sq)
    np.fill_diagonal(w, 0.0)
    d = w.sum(axis=1)
    d[d <= 0] = 1.0
    dinv = 1.0 / np.sqrt(d)
    lsym = np.eye(n) - dinv[:, None] * w * dinv[None, :]
    # eigh: ascending eigenvalues; the k smallest span the cluster space
    _, vecs = np.linalg.eigh(lsym)
    emb = vecs[:, :k].copy()
    # canonical sign per eigenvector (largest-|component| entry positive)
    # so LAPACK sign flips can't reseed the downstream k-means
    for j in range(emb.shape[1]):
        i = int(np.abs(emb[:, j]).argmax())
        if emb[i, j] < 0:
            emb[:, j] = -emb[:, j]
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return emb / norms


def _spectral_labels(x: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Spectral clustering labels: embed (``_spectral_embedding``) then the
    same deterministic k-means used by the kmeans family, run in the
    embedding space."""
    emb = _spectral_embedding(x, k)
    cent = _kmeans_deterministic(emb, ids, k)
    return ((emb[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def logrank_chi2(
    groups: np.ndarray, time: np.ndarray, event: np.ndarray
) -> float:
    """Multi-group log-rank statistic (conservative sum (O-E)^2/E form):
    how differently the groups' survival curves behave. 0 when <2
    populated groups or no events."""
    groups = np.asarray(groups)
    time = np.asarray(time, dtype=float)
    event = np.asarray(event, dtype=bool)
    labels = [g for g in np.unique(groups) if (groups == g).any()]
    if len(labels) < 2 or not event.any():
        return 0.0
    event_times = np.unique(time[event])
    O = {g: 0.0 for g in labels}
    E = {g: 0.0 for g in labels}
    for t in event_times:
        at_risk = time >= t
        n_j = float(at_risk.sum())
        d_j = float((event & (time == t)).sum())
        if n_j == 0 or d_j == 0:
            continue
        for g in labels:
            in_g = groups == g
            O[g] += float((event & (time == t) & in_g).sum())
            E[g] += d_j * float((at_risk & in_g).sum()) / n_j
    chi2 = 0.0
    for g in labels:
        if E[g] > 0:
            chi2 += (O[g] - E[g]) ** 2 / E[g]
    return float(chi2)


def _cox_partial_loglik_mean(
    beta: np.ndarray, x: np.ndarray, time: np.ndarray, event: np.ndarray
) -> float:
    """Average Cox partial log-likelihood per observation at ``beta``
    with **Efron** tie handling — the default of lifelines'
    ``CoxPHFitter``, whose ``.score(df, 'log_likelihood')`` the reference
    passes through verbatim (`scripts/main.py:97-103`). Negative; higher
    is better.

    Efron vs Breslow matters exactly when event times tie (common for
    discretized survival data, and guaranteed here where the covariate is
    a small-integer cluster label): for a tied block D_t with d events,
    Efron's denominator for the l-th event (l = 0..d-1) deflates the risk
    set by ``(l/d) * sum_{i in D_t} exp(eta_i)`` instead of reusing the
    full risk-set sum d times. With no ties the two coincide. Note the
    deliberate asymmetry: :func:`survival_models.cox_ph_fit` still FITS
    with the Breslow approximation (documented there) — this scorer
    evaluates whatever ``beta`` it is given under lifelines' convention.
    """
    order = np.argsort(-np.asarray(time, float), kind="mergesort")
    xs = np.asarray(x, float)[order]
    ts = np.asarray(time, float)[order]
    es = np.asarray(event, bool)[order]
    if not es.any():
        return 0.0
    eta = xs @ beta
    eta -= eta.max()
    exp_eta = np.exp(eta)
    s0 = np.cumsum(exp_eta)
    last_of_block = np.searchsorted(-ts, -ts, side="right") - 1
    ll = float(eta[es].sum())
    # Per tied EVENT block: risk-set sum at the block, sum of exp(eta)
    # over the block's events, and the Efron-deflated log-denominators.
    for t in np.unique(ts[es]):
        in_block = ts == t
        d_events = es & in_block
        d = int(d_events.sum())
        risk_sum = float(s0[last_of_block[in_block.argmax()]])
        tie_sum = float(exp_eta[d_events].sum())
        ell = np.arange(d, dtype=float)
        ll -= float(np.log(risk_sum - (ell / d) * tie_sum).sum())
    return ll / len(ts)


def cv_clustering_logrank_fitness(
    x: np.ndarray,
    time: np.ndarray,
    event: np.ndarray,
    sample_ids: np.ndarray,
    *,
    n_clusters: int = 2,
    folds: int = 3,
    seed: int = 42,
    algorithm: str = "kmeans",
    scoring: str = "logrank",
) -> float:
    """The reference's clustering+Cox fitness family
    (`scripts/main.py:79-112`, R27) re-founded dependency-free: per CV
    fold, cluster the TRAIN samples in feature space, assign TEST samples
    to a cluster, and score how strongly the induced test groups separate
    in survival via the log-rank statistic, squashed to (0, 1) with
    chi2/(chi2+1) so it composes with the same higher-is-better contract
    as the C-index fitness. Empty subsets return WORST_FITNESS (the R13
    guard).

    ``algorithm`` mirrors the reference's clustering enum
    (`scripts/main.py:49,83-84`): ``kmeans`` clusters with the
    deterministic k-means and assigns test rows to the nearest centroid;
    ``spectral`` clusters the train fold with the NumPy
    normalized-Laplacian spectral embedding (``_spectral_labels``) and —
    since spectral clustering has no out-of-sample map — assigns each
    test row the label of its nearest train row (1-NN in standardized
    feature space), the standard Nystrom-free extension.

    ``scoring`` mirrors the reference's ``--clustering-scoring-method``
    (`scripts/main.py:97-112`: fit a Cox PH on the cluster label as a
    single covariate, then ``cph.score(df, scoring_method)``):

    - ``"logrank"`` (default, this engine's re-foundation): log-rank
      chi2 squashed to (0, 1) — bounded, composes with the C-index
      contract, and what every declared query/oracle pins;
    - ``"concordance_index"``: C-index of the label-covariate Cox risk
      on the test fold (in [0, 1], higher is better);
    - ``"log_likelihood"``: average Cox partial log-likelihood per test
      observation (negative, higher is better — lifelines' convention,
      Efron ties; see :func:`_cox_partial_loglik_mean`). Because LL is
      unbounded below, the empty/degenerate sentinel for this scoring is
      :data:`NEG_INF_FITNESS` — matching the reference's NEG_INF error
      score (`scripts/core.py:17`, `scripts/main.py:69`) — NOT
      WORST_FITNESS (-1.0), which would rank the empty subset above any
      valid subset whose LL falls below -1 and invert BBHA's selection.
    """
    if scoring not in ("logrank", "concordance_index", "log_likelihood"):
        raise ValueError(f"unknown clustering scoring method: {scoring!r}")
    if algorithm not in ("kmeans", "spectral"):
        raise ValueError(f"unknown clustering algorithm: {algorithm!r}")
    from multiomix_aws_emr_spark.fs.survival_models import cox_ph_fit

    def score(train, test, xtr, xte):
        if algorithm == "spectral":
            lab_tr = _spectral_labels(xtr, sample_ids[train], n_clusters)
            nn = ((xte[:, None, :] - xtr[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            lab = lab_tr[nn]
        else:
            cent = _kmeans_deterministic(xtr, sample_ids[train], n_clusters)
            d = ((xte[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            lab = d.argmin(axis=1)
        t, e = time[test], event[test]
        if scoring == "logrank":
            chi2 = logrank_chi2(lab, t, e)
            return chi2 / (chi2 + 1.0)
        # the reference's shape: the cluster label is the ONE numeric
        # covariate of a Cox PH fit+scored on the same clustered rows
        xg = lab.astype(np.float64)[:, None]
        beta = cox_ph_fit(xg, t, e)
        if scoring == "concordance_index":
            return concordance_index((xg @ beta).ravel(), t, e)
        return _cox_partial_loglik_mean(beta, xg, t, e)

    return cv_mean_score(
        x, time, event, sample_ids, score, folds=folds, seed=seed,
        min_train=n_clusters,
        worst=NEG_INF_FITNESS if scoring == "log_likelihood" else WORST_FITNESS,
    )
