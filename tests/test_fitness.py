import functools
import warnings

import numpy as np
import pytest

from multiomix_aws_emr_spark.fs.fitness import (
    WORST_FITNESS,
    concordance_index,
    cv_linear_cox_fitness,
    deterministic_folds,
)


def test_concordance_perfect_and_inverted():
    time = np.array([1.0, 2.0, 3.0, 4.0])
    event = np.array([True, True, True, True])
    # higher risk == earlier failure -> perfectly concordant
    assert concordance_index(np.array([4.0, 3.0, 2.0, 1.0]), time, event) == 1.0
    assert concordance_index(np.array([1.0, 2.0, 3.0, 4.0]), time, event) == 0.0
    # constant risk -> all ties -> 0.5
    assert concordance_index(np.ones(4), time, event) == 0.5


def test_concordance_censoring():
    time = np.array([1.0, 2.0, 3.0])
    event = np.array([False, False, False])  # nothing comparable
    assert concordance_index(np.array([3.0, 2.0, 1.0]), time, event) == 0.5


def test_folds_deterministic_and_covering():
    ids = np.array([f"S{i:02d}" for i in range(30)])
    f1 = deterministic_folds(ids, 3, seed=7)
    f2 = deterministic_folds(ids, 3, seed=7)
    assert (f1 == f2).all()
    assert set(f1) == {0, 1, 2}


def test_cv_fitness_recovers_signal():
    rng = np.random.RandomState(0)
    n = 60
    x = rng.normal(size=(n, 5))
    # time driven by features 0 and 1; higher value -> later failure
    time = 10 + 3 * x[:, 0] + 3 * x[:, 1] + rng.normal(scale=0.1, size=n)
    event = np.ones(n, dtype=bool)
    ids = np.array([f"S{i}" for i in range(n)])

    informative = cv_linear_cox_fitness(x[:, :2], time, event, ids, seed=1)
    noise_only = cv_linear_cox_fitness(x[:, 3:], time, event, ids, seed=1)
    assert informative > 0.9
    assert noise_only < informative - 0.2


def test_empty_subset_is_worst():
    x = np.zeros((10, 0))
    assert (
        cv_linear_cox_fitness(
            x, np.arange(10.0), np.ones(10, bool), np.arange(10)
        )
        == WORST_FITNESS
    )


def test_clustering_logrank_separates_risk_groups():
    """Feature 0 defines two survival regimes; clustering on it must score
    far above clustering on pure noise."""
    import numpy as np

    from multiomix_aws_emr_spark.fs.fitness import (
        WORST_FITNESS,
        cv_clustering_logrank_fitness,
        logrank_chi2,
    )

    rng = np.random.RandomState(7)
    n = 120
    group = (np.arange(n) % 2).astype(float)  # two latent risk groups
    informative = group[:, None] * 3.0 + rng.normal(0, 0.2, (n, 1))
    noise = rng.normal(0, 1.0, (n, 1))
    time = np.where(group == 1, rng.uniform(1, 3, n), rng.uniform(6, 9, n))
    event = np.ones(n, dtype=bool)
    ids = np.array([f"s{i}" for i in range(n)])

    good = cv_clustering_logrank_fitness(informative, time, event, ids)
    bad = cv_clustering_logrank_fitness(noise, time, event, ids)
    assert good > 0.9
    assert good > bad + 0.2
    # determinism and the zero-feature guard
    again = cv_clustering_logrank_fitness(informative, time, event, ids)
    assert good == again
    assert (
        cv_clustering_logrank_fitness(informative[:, :0], time, event, ids)
        == WORST_FITNESS
    )
    # log-rank sanity: identical groups -> no separation
    assert logrank_chi2(np.zeros(n), time, event) == 0.0


def test_spectral_clustering_fitness_contract():
    """The spectral variant (reference `scripts/main.py:49,83-84`) obeys
    the same contract as kmeans: separates a real survival split from
    noise, is deterministic, guards the empty subset, and rejects unknown
    algorithm names."""
    import numpy as np
    import pytest

    from multiomix_aws_emr_spark.fs.fitness import (
        WORST_FITNESS,
        cv_clustering_logrank_fitness,
    )

    rng = np.random.RandomState(7)
    n = 120
    group = (np.arange(n) % 2).astype(float)
    informative = group[:, None] * 3.0 + rng.normal(0, 0.2, (n, 1))
    noise = rng.normal(0, 1.0, (n, 1))
    time = np.where(group == 1, rng.uniform(1, 3, n), rng.uniform(6, 9, n))
    event = np.ones(n, dtype=bool)
    ids = np.array([f"s{i}" for i in range(n)])

    good = cv_clustering_logrank_fitness(
        informative, time, event, ids, algorithm="spectral"
    )
    bad = cv_clustering_logrank_fitness(
        noise, time, event, ids, algorithm="spectral"
    )
    assert good > 0.9
    assert good > bad + 0.2
    again = cv_clustering_logrank_fitness(
        informative, time, event, ids, algorithm="spectral"
    )
    assert good == again
    assert (
        cv_clustering_logrank_fitness(
            informative[:, :0], time, event, ids, algorithm="spectral"
        )
        == WORST_FITNESS
    )
    with pytest.raises(ValueError):
        cv_clustering_logrank_fitness(
            informative, time, event, ids, algorithm="dbscan"
        )


def test_spectral_embedding_separates_nonconvex_rings():
    """The case that motivates spectral over k-means: two concentric rings
    are not linearly separable in feature space, but are in the Laplacian
    embedding. k-means on raw coordinates fails; spectral labels match the
    ring structure (up to label swap)."""
    import numpy as np

    from multiomix_aws_emr_spark.fs.fitness import (
        _kmeans_deterministic,
        _spectral_labels,
    )

    n_per = 60
    theta = np.linspace(0, 2 * np.pi, n_per, endpoint=False)
    inner = np.c_[np.cos(theta), np.sin(theta)] * 1.0
    outer = np.c_[np.cos(theta), np.sin(theta)] * 5.0
    x = np.vstack([inner, outer])
    truth = np.r_[np.zeros(n_per, int), np.ones(n_per, int)]
    ids = np.array([f"s{i}" for i in range(len(x))])

    lab_s = _spectral_labels(x, ids, 2)
    agree = max(
        (lab_s == truth).mean(), (lab_s == 1 - truth).mean()
    )
    assert agree == 1.0

    cent = _kmeans_deterministic(x, ids, 2)
    lab_k = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    agree_k = max((lab_k == truth).mean(), (lab_k == 1 - truth).mean())
    assert agree_k < 0.9  # raw k-means cannot split rings


def test_logrank_sql_matches_numpy(spark, sf_dir):
    """The relational log-rank query must agree with fs/fitness.py's
    numpy logrank_chi2 on the same life table."""
    import numpy as np

    from multiomix_aws_emr_spark.fs.fitness import logrank_chi2
    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.queries.omics import _life_table

    life = _life_table(spark, sf_dir).collect()
    groups = np.array([r.grp for r in life])
    time = np.array([float(r.lifetime_ms) for r in life])
    event = np.array([bool(r.observed) for r in life])
    expected = logrank_chi2(groups, time, event)

    out = QUERIES["omics_logrank_test"](spark, sf_dir).collect()
    got = out[0].chi2
    assert abs(got - expected) < 1e-3, (got, expected)


def test_rank_svm_recovers_signal_and_is_deterministic():
    """R26 SVM family: the ranking SVM fitness must recover a linear risk
    signal and be bit-identical across calls (no RNG in the model)."""
    from multiomix_aws_emr_spark.fs.fitness import cv_rank_svm_fitness

    rng = np.random.RandomState(3)
    n = 80
    x = rng.normal(size=(n, 6))
    time = 10 + 4 * x[:, 0] + 4 * x[:, 1] + rng.normal(scale=0.2, size=n)
    event = np.ones(n, dtype=bool)
    ids = np.array([f"S{i}" for i in range(n)])

    informative = cv_rank_svm_fitness(x[:, :2], time, event, ids, seed=1)
    noise_only = cv_rank_svm_fitness(x[:, 4:], time, event, ids, seed=1)
    assert informative > 0.9
    assert noise_only < informative - 0.2
    assert informative == cv_rank_svm_fitness(x[:, :2], time, event, ids, seed=1)
    assert (
        cv_rank_svm_fitness(x[:, :0], time, event, ids) == WORST_FITNESS
    )


def test_rank_svm_censoring_only_pairs():
    """With zero events there are no comparable pairs: w stays 0 and every
    fold scores the tie value 0.5."""
    from multiomix_aws_emr_spark.fs.fitness import cv_rank_svm_fitness

    rng = np.random.RandomState(5)
    n = 30
    x = rng.normal(size=(n, 3))
    time = rng.uniform(1, 10, n)
    event = np.zeros(n, dtype=bool)
    ids = np.array([f"S{i}" for i in range(n)])
    assert cv_rank_svm_fitness(x, time, event, ids) == 0.5


def test_survival_forest_recovers_nonlinear_signal():
    """R26 RF family: a threshold (non-linear) risk structure that defeats
    a linear model is exactly what the forest should pick up."""
    from multiomix_aws_emr_spark.fs.fitness import (
        cv_survival_forest_fitness,
    )

    rng = np.random.RandomState(11)
    n = 240
    x = rng.normal(size=(n, 5))
    # risk depends on |x0| > 1 (symmetric -> linear w sees ~0 correlation)
    risky = np.abs(x[:, 0]) > 1.0
    time = np.where(risky, rng.uniform(1, 4, n), rng.uniform(8, 12, n))
    event = np.ones(n, dtype=bool)
    ids = np.array([f"S{i}" for i in range(n)])

    good = cv_survival_forest_fitness(
        x[:, :1], time, event, ids, seed=2, n_estimators=10
    )
    noise = cv_survival_forest_fitness(
        x[:, 4:], time, event, ids, seed=2, n_estimators=10
    )
    # the reference-mirroring min_samples_leaf=15 bounds how sharply 10
    # shallow trees can carve the symmetric two-cut region; ~0.72 here
    assert good > 0.65, good
    assert noise < good - 0.15, (good, noise)
    again = cv_survival_forest_fitness(
        x[:, :1], time, event, ids, seed=2, n_estimators=10
    )
    assert good == again
    assert (
        cv_survival_forest_fitness(x[:, :0], time, event, ids)
        == WORST_FITNESS
    )


def test_sksurv_backend_matches_contract():
    """When scikit-survival is installed, the backend's fitness obeys the
    same contract on the linear fixture (importorskip-gated: the baked
    environment does not carry sksurv)."""
    pytest.importorskip("sksurv")
    from multiomix_aws_emr_spark.fs.sksurv_backend import make_fitness

    rng = np.random.RandomState(3)
    n = 80
    x = rng.normal(size=(n, 2))
    time = 10 + 4 * x[:, 0] + 4 * x[:, 1] + rng.normal(scale=0.2, size=n)
    event = np.ones(n, dtype=bool)
    ids = np.array([f"S{i}" for i in range(n)])
    fit = make_fitness("svm", folds=3, seed=1)
    assert fit(x, time, event, ids) > 0.9


def test_coxph_recovers_true_hazard_ratios():
    """R27 model-faithful tier: the Newton/Breslow Cox fit must recover
    known coefficients from exponential survival data (within the
    censoring+ridge shrinkage envelope), survive heavy ties, and be
    deterministic."""
    from multiomix_aws_emr_spark.fs.fitness import cv_coxph_fitness
    from multiomix_aws_emr_spark.fs.survival_models import cox_ph_fit

    rng = np.random.RandomState(0)
    n = 300
    x = rng.normal(size=(n, 3))
    beta_true = np.array([1.0, -0.5, 0.0])
    u = rng.uniform(size=n)
    t = -np.log(u) / np.exp(x @ beta_true)
    cens = rng.uniform(0, np.quantile(t, 0.9), n)
    event = t <= cens
    tobs = np.minimum(t, cens)

    beta = cox_ph_fit(x, tobs, event)
    assert abs(beta[0] - 1.0) < 0.2
    assert abs(beta[1] + 0.5) < 0.2
    assert abs(beta[2]) < 0.15
    # Breslow ties: rounding times to 1 decimal creates heavy tie blocks
    beta_tied = cox_ph_fit(x, np.round(tobs, 1), event)
    assert np.isfinite(beta_tied).all()
    assert np.sign(beta_tied[0]) > 0 and np.sign(beta_tied[1]) < 0

    ids = np.array([f"S{i}" for i in range(n)])
    fit = cv_coxph_fitness(x, tobs, event, ids, seed=1)
    assert fit > 0.7
    assert fit == cv_coxph_fitness(x, tobs, event, ids, seed=1)
    assert cv_coxph_fitness(x[:, :0], tobs, event, ids) == WORST_FITNESS


def test_log_likelihood_sentinel_is_neg_inf():
    """ADVICE r7: log_likelihood fitness is unbounded below, so its
    empty/degenerate sentinel must be the reference's NEG_INF
    (`scripts/core.py:17`, `main.py:69`) — a -1.0 sentinel would rank
    the empty subset ABOVE any valid subset scoring below -1."""
    from multiomix_aws_emr_spark.fs.fitness import (
        NEG_INF_FITNESS,
        cv_clustering_logrank_fitness,
    )

    empty = np.zeros((10, 0))
    t, e, ids = np.arange(10.0) + 1, np.ones(10, bool), np.arange(10)
    ll = cv_clustering_logrank_fitness(empty, t, e, ids, scoring="log_likelihood")
    assert ll == NEG_INF_FITNESS == float("-inf")
    # bounded scorings keep the -1.0 sentinel (declared queries pin it)
    for scoring in ("logrank", "concordance_index"):
        assert (
            cv_clustering_logrank_fitness(empty, t, e, ids, scoring=scoring)
            == WORST_FITNESS
        )
    # and any finite valid LL ranks above the sentinel — the inversion fix
    rng = np.random.RandomState(7)
    x = rng.normal(size=(60, 3))
    valid = cv_clustering_logrank_fitness(
        x, rng.exponential(10, 60) + 0.1, np.ones(60, bool), np.arange(60),
        scoring="log_likelihood",
    )
    assert np.isfinite(valid) and valid > ll


def test_bbha_empty_star_uses_caller_sentinel():
    """`_make_evaluator(worst_fitness=...)` threads the scoring-aware
    sentinel to the R13 zero-feature guard (`scripts/core.py:52-77`)."""
    from types import SimpleNamespace

    import pandas as pd

    from multiomix_aws_emr_spark.fs.bbha import _make_evaluator

    payload = SimpleNamespace(
        value={
            "values": np.random.RandomState(0).normal(size=(8, 4)),
            "sample_ids": np.arange(8),
            "time": np.arange(8.0) + 1,
            "event": np.ones(8, bool),
        }
    )
    pdf = pd.DataFrame({"star_id": [0], "mask": [np.zeros(4, dtype=np.int32)]})
    ev_default = _make_evaluator(payload, cv_linear_cox_fitness)
    assert ev_default(pdf)["fitness"].iloc[0] == WORST_FITNESS
    ev_ll = _make_evaluator(payload, cv_linear_cox_fitness, float("-inf"))
    assert ev_ll(pdf)["fitness"].iloc[0] == float("-inf")


def test_cox_partial_loglik_efron_ties():
    """The LL scorer uses Efron tie handling (lifelines' default, which
    the reference scores through): equal to the Breslow form when no
    event times tie, strictly above it when they do."""
    from multiomix_aws_emr_spark.fs.fitness import _cox_partial_loglik_mean

    def breslow(beta, x, time, event):
        order = np.argsort(-np.asarray(time, float), kind="mergesort")
        xs, ts, es = (
            np.asarray(x, float)[order],
            np.asarray(time, float)[order],
            np.asarray(event, bool)[order],
        )
        eta = xs @ beta
        eta -= eta.max()
        s0 = np.cumsum(np.exp(eta))
        last = np.searchsorted(-ts, -ts, side="right") - 1
        return float((eta[es] - np.log(s0[last][es])).sum()) / len(ts)

    rng = np.random.RandomState(3)
    beta = np.array([0.8, -0.5])
    x = rng.normal(size=(30, 2))
    t_untied = np.arange(30.0) + 1.0
    e = np.ones(30, bool)
    assert _cox_partial_loglik_mean(beta, x, t_untied, e) == pytest.approx(
        breslow(beta, x, t_untied, e), abs=1e-12
    )
    t_tied = np.repeat(np.arange(10.0) + 1.0, 3)  # every event time x3
    assert _cox_partial_loglik_mean(beta, x, t_tied, e) > breslow(
        beta, x, t_tied, e
    )


# Exact values of every fitness family on one seeded fixture, recorded at
# the commit before the families shared one CV loop (``cv_mean_score``).
# Widths: the empty subset, 3 and 8 features.
_CV_PINS = {
    "linear_cox": (-1.0, 0.9516212284735582, 0.9389378612878213),
    "coxph": (-1.0, 0.9499710634570566, 0.9293184159309634),
    "rank_svm": (-1.0, 0.9502778578467189, 0.862178932856048),
    "survival_forest": (-1.0, 0.6705584641063971, 0.6824542880828367),
    "kmeans/logrank": (-1.0, 0.5465239817644566, 0.4108940255732469),
    "kmeans/concordance_index": (-1.0, 0.6085171753465124, 0.5701934614585359),
    "kmeans/log_likelihood": (float("-inf"), -1.387389593558903, -1.43303062030282),
    "spectral/logrank": (-1.0, 0.5071753756167005, 0.5828237791323034),
    "spectral/concordance_index": (-1.0, 0.6472302477370283, 0.6129726208910667),
    "spectral/log_likelihood": (
        float("-inf"), -1.3179553432059192, -1.4024991097574697,
    ),
}


@pytest.mark.parametrize("family", sorted(_CV_PINS))
def test_cv_fitness_exact_values(family):
    from multiomix_aws_emr_spark.fs import fitness as F

    rng = np.random.RandomState(0)
    n = 60
    x = rng.normal(size=(n, 8))
    time = 10 + 2 * x[:, 0] + 2 * x[:, 1] - x[:, 2] + rng.normal(scale=0.5, size=n)
    event = rng.uniform(size=n) < 0.75
    ids = np.array([f"S{i}" for i in range(n)])
    if "/" in family:
        algorithm, scoring = family.split("/")
        fn = functools.partial(
            F.cv_clustering_logrank_fitness, algorithm=algorithm, scoring=scoring
        )
    else:
        fn = getattr(F, f"cv_{family}_fitness")
    got = tuple(fn(x[:, :w], time, event, ids, seed=3) for w in (0, 3, 8))
    assert got == _CV_PINS[family]


@pytest.mark.parametrize(
    "n, p, expected", [(60, 120, 0.4672969284626491), (300, 200, 0.5382094506268361)]
)
def test_coxph_step_halving_takes_no_log_of_zero(n, p, expected):
    # Wide subsets drive a candidate step's risk-set sums to 0; such a
    # step is halved without evaluating log(0). Values recorded at the
    # commit that still emitted the RuntimeWarning.
    from multiomix_aws_emr_spark.fs.fitness import cv_coxph_fitness

    rng = np.random.RandomState(1)
    x = rng.normal(size=(n, p))
    time = np.abs(rng.normal(10, 3, n)) + 0.1
    event = rng.uniform(size=n) < 0.7
    ids = np.array([f"S{i}" for i in range(n)])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert cv_coxph_fitness(x, time, event, ids) == expected


def test_sksurv_fold_loop_without_sksurv(monkeypatch):
    """``make_fitness``'s fold loop, run with a stub estimator: folds with
    fewer than 2 test rows are skipped, features reach the estimator
    unstandardized, the result is the mean fold score, and an empty
    subset or a data set with no scorable fold gives WORST_FITNESS."""
    from multiomix_aws_emr_spark.fs import sksurv_backend

    train_sizes = []

    class Stub:
        def fit(self, x, y):
            train_sizes.append(len(x))
            return self

        def score(self, x, y):
            return float(x[:, 0].sum())  # raw test-row values

    monkeypatch.setattr(sksurv_backend, "make_estimator", lambda model, **kw: Stub())
    monkeypatch.setattr(sksurv_backend, "_structured_y", lambda time, event: time)

    cand = np.array([f"S{i}" for i in range(60)])
    fold_of = deterministic_folds(cand, 3, 0)
    # fold 0 gets 1 row (skipped), fold 1 rows 1..5, fold 2 rows 6..11
    ids = np.concatenate(
        [cand[fold_of == 0][:1], cand[fold_of == 1][:5], cand[fold_of == 2][:6]]
    )
    x = 100.0 + np.arange(24.0).reshape(12, 2)  # column 0: 100 + 2i
    time, event = np.arange(12.0) + 1, np.ones(12, bool)
    fit = sksurv_backend.make_fitness("svm", folds=3, seed=0)

    # (sum of rows 1..5 = 530, rows 6..11 = 702) / 2
    assert fit(x, time, event, ids) == 616.0
    assert train_sizes == [7, 6]
    assert fit(x[:, :0], time, event, ids) == WORST_FITNESS
    # every row in fold 1: no fold has both 2 train and 2 test rows
    ones = cand[fold_of == 1][:3]
    assert fit(x[:3], time[:3], event[:3], ones) == WORST_FITNESS
    assert train_sizes == [7, 6]
