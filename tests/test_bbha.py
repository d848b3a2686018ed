"""End-to-end BBHA test (SURVEY.md §5.2.4): tiny synthetic survival dataset
with informative features by construction, fixed random_state -> the run is
deterministic, improves on noise, and the result JSON has the reference's
shape (`scripts/core.py:277-285`)."""

import json
import os
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from multiomix_aws_emr_spark.fs.bbha import BBHAResult, random_mask, run_bbha
from multiomix_aws_emr_spark.fs.fitness import cv_linear_cox_fitness


@pytest.fixture(scope="module")
def dataset():
    rng = np.random.RandomState(7)
    n, k = 40, 10
    x = pd.DataFrame(
        rng.normal(size=(n, k)),
        index=[f"S{i:02d}" for i in range(n)],
        columns=[f"GENE_{i:04d}" for i in range(k)],
    )
    # informative: GENE_0000..0002 drive survival time, rest is noise
    time = 50 + 8 * (x.iloc[:, 0] + x.iloc[:, 1] + x.iloc[:, 2]).to_numpy()
    time += rng.normal(scale=0.1, size=n)
    event = np.ones(n, dtype=bool)
    return x, time, event


def _run(spark, dataset, **kw):
    x, time, event = dataset
    return run_bbha(
        spark, x, time, event,
        n_stars=6, n_iterations=3, random_state=42, **kw,
    )


def test_bbha_deterministic(spark, dataset):
    r1 = _run(spark, dataset)
    r2 = _run(spark, dataset)
    assert (r1.best_mask == r2.best_mask).all()
    assert r1.best_fitness == r2.best_fitness
    assert r1.selected_features == r2.selected_features


def test_run_destroys_its_broadcast(spark, dataset):
    """PySpark keeps a broadcast's payload in a file under the context's
    temp dir until the broadcast is destroyed; a run leaves none behind."""
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))
    _run(spark, dataset)
    assert len(os.listdir(temp_dir)) <= before


def test_bbha_finds_signal(spark, dataset):
    r = _run(spark, dataset)
    assert r.best_fitness > 0.7  # far above the 0.5 random baseline
    # 18 search rows + the R34 all-features baseline at (-1, -1)
    assert len(r.history) == 6 * 3 + 1
    assert {(h["iteration"], h["star_id"]) for h in r.history} == {
        (i, s) for i in range(3) for s in range(6)
    } | {(-1, -1)}


def test_bbha_all_features_baseline(spark, dataset):
    # R34 (`scripts/core.py:171-179`): the all-features fitness is
    # evaluated once before the search, carried on the result, and its
    # history row records the full feature width.
    r = _run(spark, dataset)
    assert r.baseline_fitness is not None and 0.0 <= r.baseline_fitness <= 1.0
    base_rows = [h for h in r.history if h["iteration"] == -1]
    assert len(base_rows) == 1
    assert base_rows[0]["n_features"] == dataset[0].shape[1]
    assert base_rows[0]["fitness"] == r.baseline_fitness
    # seeded determinism extends to the baseline evaluation
    assert _run(spark, dataset).baseline_fitness == r.baseline_fitness


def test_bbha_metrics_and_json(spark, dataset):
    r = _run(spark, dataset)
    hdf = r.history_df(spark)
    assert hdf.count() == 19
    host = r.host_metrics_df(spark).collect()
    assert all(row.busy_sec >= 0 for row in host)
    doc = json.loads(r.to_result_json())
    assert set(doc) == {
        "features",
        "best_metric",
        "n_iterations",
        "execution_time",
        "best_metric_with_all_features",
    }
    assert doc["best_metric_with_all_features"] == round(r.baseline_fitness, 4)
    assert doc["features"].count("|") == len(r.selected_features) - 1


def test_bins_decide_where_never_what(spark, dataset):
    # the number of bins changes which task runs a star, never what it
    # computes: histories, best fitness and best mask are equal
    runs = [_run(spark, dataset, n_bins=b) for b in (1, 3, 4)]
    key = lambda h: (h["iteration"], h["star_id"], h["fitness"], h["n_features"])  # noqa: E731
    one = runs[0]
    for r in runs[1:]:
        assert [key(h) for h in r.history] == [key(h) for h in one.history]
        assert r.best_fitness == one.best_fitness
        assert (r.best_mask == one.best_mask).all()


@pytest.mark.parametrize(
    "search, kw",
    [
        ("run_bbha", {"n_stars": 0}),
        ("run_bbha", {"n_iterations": 0}),
        ("run_blind_search", {"n_subsets": 0}),
    ],
    ids=["no-stars", "no-iterations", "blind-no-subsets"],
)
def test_empty_search_is_rejected_before_spark_work(spark, dataset, search, kw):
    # no stars or no iterations is no search: rejected before the
    # broadcast and the first evaluation job, not answered with a -inf
    # "best" mask or an IndexError after iteration 0's job
    from multiomix_aws_emr_spark.fs import bbha

    x, time_col, event_col = dataset
    group = f"bbha-empty-{search}-{'-'.join(kw)}"
    with pytest.raises(ValueError, match="must be >= 1"):
        _jobs_in_group(
            spark, group,
            lambda: getattr(bbha, search)(spark, x, time_col, event_col, **kw),
        )
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []


def test_random_mask_seeded():
    m1 = random_mask(20, np.random.RandomState(42))
    m2 = random_mask(20, np.random.RandomState(42))
    assert (m1 == m2).all()
    assert 1 <= m1.sum() <= 20


def test_improved_variant_deterministic_and_converges(spark, dataset):
    x, time_col, event_col = dataset

    kw = dict(
        n_stars=6, n_iterations=4, random_state=42,
        variant="improved", coeff_1=2.2, coeff_2=0.1,
        binarization_threshold=None,
    )
    r1 = run_bbha(spark, x, time_col, event_col, **kw)
    r2 = run_bbha(spark, x, time_col, event_col, **kw)
    assert r1.selected_features == r2.selected_features
    assert r1.best_fitness == r2.best_fitness
    assert r1.best_fitness > 0.5  # beats random ordering


def test_improved_variant_rejects_bad_coeffs(spark, dataset):
    x, time_col, event_col = dataset

    with pytest.raises(ValueError, match="coeff_1"):
        run_bbha(spark, x, time_col, event_col, variant="improved", coeff_1=9.9)
    with pytest.raises(ValueError, match="coeff_2"):
        run_bbha(spark, x, time_col, event_col, variant="improved", coeff_2=0.9)


def test_blind_search_one_pass(spark, dataset):
    from multiomix_aws_emr_spark.fs.bbha import run_blind_search

    x, time_col, event_col = dataset
    r1 = run_blind_search(
        spark, x, time_col, event_col, n_subsets=12, random_state=42
    )
    r2 = run_blind_search(
        spark, x, time_col, event_col, n_subsets=12, random_state=42
    )
    assert r1.selected_features == r2.selected_features  # seeded
    # 12 subsets + the R34 all-features baseline row at iteration -1
    assert len(r1.history) == 13 and r1.n_iterations == 1
    assert r1.baseline_fitness is not None
    # best-of-12 must match a driver-side argmax over its own history
    # (the baseline row is reporting, not a search candidate)
    best = max(
        (h for h in r1.history if h["iteration"] >= 0),
        key=lambda h: (h["fitness"], -h["n_features"]),
    )
    assert r1.best_fitness == best["fitness"]
    # with informative features planted, random search still beats chance
    assert r1.best_fitness > 0.5
    # exact values, recorded at the commit before blind search became a
    # one-iteration run_bbha (it had its own evaluation loop then)
    assert r1.best_fitness == 1.0
    assert r1.selected_features == [
        "GENE_0000", "GENE_0001", "GENE_0002", "GENE_0003", "GENE_0004",
        "GENE_0006",
    ]


def test_blind_search_picks_fewest_features_when_every_star_is_worst(spark, dataset):
    # every subset scores the NEG_INF sentinel: the black hole is still the
    # arg-best under the fewer-features tie-break, not an unset index
    from multiomix_aws_emr_spark.fs.bbha import run_blind_search

    x, time_col, event_col = dataset
    r = run_blind_search(
        spark, x, time_col, event_col, n_subsets=5, random_state=42,
        fitness_fn=lambda *a: float("-inf"), worst_fitness=float("-inf"),
    )
    # star widths are [7, 2, 7, 6, 8]: star 1 (seed 42 * 2) is the best
    assert r.best_fitness == float("-inf")
    assert (r.best_mask == random_mask(10, np.random.RandomState(84))).all()
    assert len(r.selected_features) == 2


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under a job group; return its result and the group's
    job ids."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _evaluator(dataset, fitness_fn=cv_linear_cox_fitness):
    # the payload rides in the task closure; a broadcast is what run_bbha
    # ships, and both expose it as ``.value``
    from multiomix_aws_emr_spark.fs.bbha import _make_evaluator

    x, time, event = dataset
    payload = {
        "values": x.to_numpy(dtype=np.float64),
        "sample_ids": x.index.to_numpy(),
        "time": np.asarray(time, dtype=np.float64),
        "event": np.asarray(event, dtype=bool),
    }
    return _make_evaluator(SimpleNamespace(value=payload), fitness_fn)


def _evaluate_in_group(spark, dataset, group, n_stars, n_bins):
    """One ``_evaluate`` pass whose fitness is the partition that ran the
    star; returns the rows and the pass's stage task counts."""
    from multiomix_aws_emr_spark.fs.bbha import _evaluate

    # nested, so it pickles by value: the worker cannot import this module
    def _partition_id(*_):
        import pyspark

        return float(pyspark.TaskContext.get().partitionId())

    masks = [random_mask(10, np.random.RandomState(s + 1)) for s in range(n_stars)]
    stars = list(enumerate(masks))
    out, jobs = _jobs_in_group(
        spark, group,
        lambda: _evaluate(
            spark, _evaluator(dataset, _partition_id), 2, stars, n_bins
        ),
    )
    assert [(r["iteration"], r["star_id"]) for r in out] == [
        (2, s) for s in range(n_stars)
    ]
    assert [r["n_features"] for r in out] == [int(m.sum()) for m in masks]
    assert len(jobs) == 1
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        tracker.getStageInfo(st).numTasks
        for st in tracker.getJobInfo(jobs[0]).stageIds
    ]
    return out, tasks


def test_evaluate_pass_is_one_job_with_one_task_per_bin(spark, dataset):
    # The reference pins each bin to its own partition
    # (`scripts/metaheuristics.py:248,297-300`) and fills the bins by its
    # sequential partitioner key * W // N (`:290`): 9 stars over 4 bins
    # run as one job whose only stage has 4 tasks, not a shuffle that AQE
    # may coalesce into a single task, and star s runs in partition
    # s * 4 // 9.
    out, tasks = _evaluate_in_group(spark, dataset, "bbha-evaluate-placement", 9, 4)
    assert tasks == [4]
    assert [int(r["fitness"]) for r in out] == [s * 4 // 9 for s in range(9)]

    # fewer stars than bins: one task per star, no empty task
    out, tasks = _evaluate_in_group(spark, dataset, "bbha-evaluate-sparse", 3, 4)
    assert tasks == [3]
    assert [int(r["fitness"]) for r in out] == [0, 1, 2]


def test_baseline_rides_in_iteration_zero(spark, dataset):
    # R34's all-features baseline is one more row of iteration 0's pass:
    # n_iterations evaluation jobs in all, and the (-1, -1) row equals a
    # standalone baseline evaluation.
    from multiomix_aws_emr_spark.fs.bbha import evaluate_all_features_baseline

    r, jobs = _jobs_in_group(spark, "bbha-baseline-fold", lambda: _run(spark, dataset))
    assert len(jobs) == 3
    alone = evaluate_all_features_baseline(
        spark, _evaluator(dataset), dataset[0].shape[1]
    )
    key = lambda h: (h["iteration"], h["star_id"], h["fitness"], h["n_features"])  # noqa: E731
    assert key(r.history[0]) == key(alone) == (-1, -1, r.baseline_fitness, 10)


def _zip_importers():
    import sys
    import zipimport

    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_release_zip_importers_rereads_archives_fresh(tmp_path, monkeypatch):
    # Released importers must not come back from zipimport's directory
    # cache either: a module added to the archive afterwards is found.
    import importlib
    import sys
    import zipfile

    from multiomix_aws_emr_spark.fs.bbha import _release_zip_importers

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zip_release_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zip_release_a").X == 1
    assert archive in _zip_importers()

    _release_zip_importers()
    assert _zip_importers() == []

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zip_release_a.py", "X = 1\n")
        zf.writestr("zip_release_b.py", "Y = 2\n")
    try:
        assert importlib.import_module("zip_release_b").Y == 2
    finally:
        sys.modules.pop("zip_release_a", None)
        sys.modules.pop("zip_release_b", None)


def test_evaluation_tasks_leave_no_zip_importers(spark, dataset):
    # A reused Python worker re-reads every cached zip directory at the
    # start of each task; after an evaluation task there are none left.
    from multiomix_aws_emr_spark.fs.bbha import _evaluate

    evaluator = _evaluator(dataset, lambda *a: float(os.getpid()))
    n = spark.sparkContext.defaultParallelism
    stars = [(s, np.ones(10, np.int32)) for s in range(n)]
    evaluated = {int(r["fitness"]) for r in _evaluate(spark, evaluator, 0, stars, n)}

    # counted inline: the worker cannot import this test module, so it
    # cannot unpickle a reference to _zip_importers
    def report(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"pid": [os.getpid()], "zips": [zips]})

    seen = (
        spark.range(0, 2 * n, 1, 2 * n)
        .mapInPandas(report, "pid long, zips long")
        .collect()
    )
    reused = [r.zips for r in seen if r.pid in evaluated]
    assert reused and set(reused) == {0}
