"""scikit-survival fitness backend — the reference's exact model objects.

When scikit-survival is installed, ``--model svm|rf`` evaluates fitness
with the very estimators the reference constructs
(`scripts/main.py:29-42`): ``FastKernelSurvivalSVM(rank_ratio=1.0,
max_iter=..., tol=1e-5, kernel=..., optimizer=..., random_state=...)``
and ``RandomSurvivalForest(n_estimators=..., min_samples_split=10,
min_samples_leaf=15, max_features="sqrt", random_state=...)``, scored as
mean test C-index across CV folds (`:114-135`, ``cross_validate`` there).

Differences kept deliberate and documented: the fold loop is the
engine's shared :func:`~multiomix_aws_emr_spark.fs.fitness.cv_mean_score`,
whose folds come from the deterministic ``crc32(sample_id) % k``
assignment rather than sklearn's index-order KFold, so fitness is
invariant to row order and partitioning (SURVEY.md §4.2.2); scoring
calls ``estimator.score``, which for sksurv estimators IS Harrell's
C-index.

Import this module only behind :func:`available` — it raises ImportError
otherwise (the engine's baked environment does not carry sksurv).
"""

from __future__ import annotations

import numpy as np

from multiomix_aws_emr_spark.fs.fitness import cv_mean_score


def available() -> bool:
    """True when scikit-survival can be imported."""
    try:
        import sksurv  # noqa: F401

        return True
    except ImportError:
        return False


def _structured_y(time: np.ndarray, event: np.ndarray) -> np.ndarray:
    from sksurv.util import Surv

    return Surv.from_arrays(event=np.asarray(event, bool), time=np.asarray(time, float))


def make_estimator(model: str, *, random_state: int = 42, **params):
    """Construct the reference's estimator for ``model`` in {'svm', 'rf'}
    (`scripts/main.py:29-42`)."""
    if model == "rf":
        from sksurv.ensemble import RandomSurvivalForest

        return RandomSurvivalForest(
            n_estimators=params.get("n_estimators", 10),
            min_samples_split=10,
            min_samples_leaf=15,
            max_features="sqrt",
            n_jobs=params.get("n_jobs", 1),
            random_state=random_state,
        )
    if model == "svm":
        from sksurv.svm import FastKernelSurvivalSVM

        return FastKernelSurvivalSVM(
            rank_ratio=0.0 if params.get("is_regression", False) else 1.0,
            max_iter=params.get("max_iter", 1000),
            tol=1e-5,
            kernel=params.get("kernel", "linear"),
            optimizer=params.get("optimizer", "avltree"),
            random_state=random_state,
        )
    raise ValueError(f"model must be 'svm' or 'rf', got {model!r}")


def make_fitness(model: str, *, folds: int = 3, seed: int = 42, **params):
    """A ``FitnessFn`` evaluating the sksurv estimator through
    :func:`~multiomix_aws_emr_spark.fs.fitness.cv_mean_score` on raw
    (unstandardized) features; mean test C-index, the reference's
    ``cv_res['test_score'].mean()`` (`scripts/main.py:130`)."""

    def fitness(
        x: np.ndarray,
        time: np.ndarray,
        event: np.ndarray,
        sample_ids: np.ndarray,
    ) -> float:
        def score(train, test, xtr, xte):
            est = make_estimator(model, random_state=seed, **params)
            est.fit(xtr, _structured_y(time[train], event[train]))
            return float(est.score(xte, _structured_y(time[test], event[test])))

        return cv_mean_score(
            x, time, event, sample_ids, score,
            folds=folds, seed=seed, standardize=False,
        )

    return fitness
