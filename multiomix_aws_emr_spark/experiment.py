"""End-to-end BBHA experiment runner — the spark-submit entry point.

The Spark-native analog of the reference's `scripts/main.py:252-296` +
`scripts/core.py:80-291`: parse CLI parameters (the operative subset of the
reference's 28, `scripts/parameters.py:75-173`), ingest the survival TSVs,
clean, run BBHA feature selection, and write the three artifacts the
reference emits — `result.json` (R24, `core.py:277-285`), the per-star
metrics (R24, tidied to parquet instead of a dict-of-parallel-lists), and
the best-model artifact (R25, `core.py:265-269`).

Run:

    spark-submit -py-files <pkg.zip> -m multiomix_aws_emr_spark.experiment \
        --app-name exp1 --molecules-dataset m.tsv --clinical-dataset c.tsv \
        --results-dir /tmp/out --n-stars 8 --bbha-iterations 4

or locally: ``python -m multiomix_aws_emr_spark.experiment ...``.

Model selection mirrors `scripts/main.py:29-42`: ``--model cox`` is the
dependency-free linear Cox CV, ``--model clustering`` the k-means +
log-rank family (fs/fitness.py), and ``--model svm|rf`` the reference's
primary families — scikit-survival's FastKernelSurvivalSVM /
RandomSurvivalForest when that library is installed (fs/sksurv_backend),
otherwise the same-family NumPy implementations (fs/survival_models), so
every model choice runs end-to-end in the baked environment.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time as _time

import numpy as np

from pyspark.sql import SparkSession

from multiomix_aws_emr_spark.fs import fitness as _fitness


def _svm_or_rf_fitness(model: str, folds: int, seed: int, args):
    """R26 (`scripts/main.py:29-42,114-135`): prefer the real sksurv
    estimators when the library is installed; otherwise the
    dependency-free same-family implementations (fs/survival_models.py)
    keep ``--model svm|rf`` runnable with the identical CV/C-index
    contract.

    The per-estimator tunables (`scripts/parameters.py:91-118` /
    `main.py:29-42`) reach the estimator builder here: ``--svm-kernel``,
    ``--svm-optimizer``, ``--svm-max-iterations``, ``--svm-is-regression``
    to FastKernelSurvivalSVM and ``--rf-n-estimators``, ``--tree-n-jobs``
    to RandomSurvivalForest. The dependency-free fallbacks honor the
    knobs that change RESULTS (`max_iter`, `n_estimators`) and reject
    what they cannot express (non-linear kernels, the regression
    objective) loudly; ``--svm-optimizer``/``--tree-n-jobs`` select
    sksurv's internal tree structure / sklearn thread count — pure
    speed knobs with no result effect, so the fallbacks accept and
    record them without branching."""
    from multiomix_aws_emr_spark.fs import sksurv_backend

    if sksurv_backend.available():
        return sksurv_backend.make_fitness(
            model,
            folds=folds,
            seed=seed,
            kernel=args.svm_kernel,
            optimizer=args.svm_optimizer,
            max_iter=args.svm_max_iterations,
            is_regression=args.svm_is_regression,
            n_estimators=args.rf_n_estimators,
            n_jobs=args.tree_n_jobs,
        )
    if model == "svm":
        if args.svm_kernel != "linear":
            raise ValueError(
                f"--svm-kernel {args.svm_kernel} needs the scikit-survival backend "
                "(the dependency-free ranking SVM is linear); install "
                "sksurv or use --svm-kernel linear"
            )
        if args.svm_is_regression:
            raise ValueError(
                "--svm-is-regression true needs the scikit-survival "
                "backend (the dependency-free fallback implements the "
                "ranking objective, rank_ratio=1.0)"
            )
        return functools.partial(
            _fitness.cv_rank_svm_fitness,
            folds=folds,
            seed=seed,
            max_iter=args.svm_max_iterations,
        )
    return functools.partial(
        _fitness.cv_survival_forest_fitness,
        folds=folds,
        seed=seed,
        n_estimators=args.rf_n_estimators,
    )


def _model_fitness(args: argparse.Namespace) -> tuple[_fitness.FitnessFn, float]:
    """``--model`` -> (fitness function, empty-subset sentinel), the
    reference's model switch (`scripts/main.py:29-42`).

    The sentinel is -1.0 for every bounded-in-[0,1] fitness and the
    reference's NEG_INF for the unbounded-below clustering
    ``log_likelihood`` scoring — otherwise a valid subset with LL < -1
    ranks below the empty one."""
    folds, seed = args.cv_folds, args.random_state
    if args.model in ("svm", "rf"):
        fitness = _svm_or_rf_fitness(args.model, folds, seed, args)
    elif args.model == "cox":
        fitness = functools.partial(
            _fitness.cv_linear_cox_fitness, folds=folds, seed=seed
        )
    elif args.model == "coxph":
        # the model-faithful R27 tier: Newton-fit Cox partial likelihood
        fitness = functools.partial(_fitness.cv_coxph_fitness, folds=folds, seed=seed)
    else:  # clustering (`scripts/main.py:79-112`): dependency-free
        # k-means or spectral + survival separation fitness (R27;
        # algorithm enum mirrors `scripts/main.py:49,83-84`, accepting
        # the reference spelling 'k_means'; --number-of-clusters and
        # --clustering-scoring-method plumb through,
        # parameters.py:126-135)
        if args.clustering_scoring_method == "logrank":
            # Deliberate default deviation: the reference defaults to
            # 'log_likelihood' (`scripts/parameters.py:126-135`); this
            # engine defaults to the bounded squashed-logrank that its
            # declared queries/oracles pin. Say so once, loudly, so a
            # reference spark-submit line that omits the flag is not
            # silently rescored.
            print(
                "[experiment] clustering scoring is 'logrank' (this "
                "engine's default); note the reference defaults to "
                "'log_likelihood' — pass --clustering-scoring-method "
                "log_likelihood for reference-default semantics",
                file=sys.stderr,
            )
        fitness = functools.partial(
            _fitness.cv_clustering_logrank_fitness,
            folds=folds,
            seed=seed,
            algorithm=args.clustering_algorithm.replace("k_means", "kmeans"),
            n_clusters=args.number_of_clusters,
            scoring=args.clustering_scoring_method,
        )
        if args.clustering_scoring_method == "log_likelihood":
            return fitness, _fitness.NEG_INF_FITNESS
    return fitness, _fitness.WORST_FITNESS


def _tf(value: str) -> bool:
    """The reference's string-boolean convention: every flag is typed
    ``choices=['true','false']`` and compared ``== 'true'``
    (`scripts/parameters.py:158-173`)."""
    if value not in ("true", "false"):
        raise argparse.ArgumentTypeError(
            f"expected 'true' or 'false', got {value!r}"
        )
    return value == "true"


def build_arg_parser() -> argparse.ArgumentParser:
    """The reference CLI surface (`scripts/parameters.py:75-173`) plus this
    engine's own extensions (``--results-dir``, ``--algorithm``,
    ``--bbha-variant``/``--coeff-*``, ``--model cox|coxph``).

    Every reference argument is accepted, so a reference spark-submit
    arg list ports verbatim. Documented deviations:

    - ``--svm-is-regression`` defaults to 'false' (ranking,
      rank_ratio=1.0 — the reference's documented primary mode). The
      reference parser's default is 'true', but its help string is a
      copy-paste of the load-balancer flag's and flipping it makes the
      dependency-free default unrunnable without sksurv.
    - ``--return-train-scores`` defaults to 'false' (the reference's
      default is the string 'train', which its ``== 'true'`` parse also
      reads as False).
    - ``--clustering-algorithm`` accepts the reference spelling
      ``k_means`` alongside ``kmeans``.
    - ``--clustering-scoring-method`` adds ``logrank`` (this engine's
      bounded default) to the reference's two lifelines methods.
    """
    p = argparse.ArgumentParser(prog="multiomix_aws_emr_spark.experiment")
    p.add_argument("--app-name", required=True)
    p.add_argument(
        "--master",
        default=None,
        help="Spark master URL (reference default spark://master-node:7077; "
        "here None = let the session builder pick local[*])",
    )
    p.add_argument("--molecules-dataset", required=True)
    p.add_argument("--clinical-dataset", required=True)
    p.add_argument("--results-dir", default="results")
    p.add_argument(
        "--model",
        default="cox",
        choices=("cox", "coxph", "svm", "rf", "clustering"),
    )
    # both values of the reference's algorithm enum (`src/emr.py:10-14`);
    # blind search is implemented here (the reference left it a TODO)
    p.add_argument(
        "--algorithm", default="bbha", choices=("bbha", "blind_search")
    )
    # general toggles (`scripts/parameters.py:91-108`)
    p.add_argument(
        "--use-load-balancer", type=_tf, default=True, metavar="{true,false}",
        help="accepted for reference CLI parity but UNUSED: stars always go "
        "to bins by the reference's sequential partitioner (its learned "
        "runtime model with greedy bin packing measured no faster here)",
    )
    p.add_argument(
        "--use-broadcast", type=_tf, default=True, metavar="{true,false}",
        help="accepted for reference CLI parity but UNUSED: the molecules "
        "matrix is always broadcast (shipping it in each task's closure "
        "measured slower, and PySpark broadcasts any command over 1 MB)",
    )
    p.add_argument(
        "--debug", type=_tf, default=False, metavar="{true,false}",
    )
    # SVM parameters (`scripts/parameters.py:109-118`)
    p.add_argument(
        "--svm-kernel",
        default="linear",
        choices=("linear", "poly", "rbf", "sigmoid", "cosine", "precomputed"),
    )
    p.add_argument(
        "--svm-optimizer", default="avltree", choices=("avltree", "rbtree")
    )
    p.add_argument("--svm-max-iterations", type=int, default=1000)
    p.add_argument(
        "--svm-is-regression", type=_tf, default=False, metavar="{true,false}",
    )
    # RF parameters (`scripts/parameters.py:119-124`)
    p.add_argument("--rf-n-estimators", type=int, default=10)
    p.add_argument("--tree-n-jobs", type=int, default=-1)
    # clustering parameters (`scripts/parameters.py:126-135`); both
    # values of the reference's enum (`scripts/main.py:49,83-84`)
    p.add_argument(
        "--clustering-algorithm",
        default="kmeans",
        choices=("kmeans", "k_means", "spectral"),
    )
    p.add_argument(
        "--clustering-scoring-method",
        default="logrank",
        choices=("logrank", "concordance_index", "log_likelihood"),
    )
    p.add_argument("--number-of-clusters", type=int, default=2)
    # CV parameters (`scripts/parameters.py:137-141`)
    p.add_argument(
        "--n-jobs", type=int, default=-1,
        help="accepted for reference CLI parity but UNUSED: fold "
        "evaluation runs inside one Arrow batch per star, not a joblib "
        "pool (the reference's sklearn n_jobs has no analog here)",
    )
    p.add_argument("--cv-folds", type=int, default=10)
    p.add_argument(
        "--return-train-scores", type=_tf, default=False, metavar="{true,false}",
        help="accepted for reference CLI parity but UNUSED: train-fold "
        "scores are not computed (the declared result surface pins test "
        "scores only)",
    )
    # BBHA parameters (`scripts/parameters.py:143-147`)
    p.add_argument("--n-stars", type=int, default=30)
    p.add_argument("--bbha-iterations", type=int, default=30)
    p.add_argument("--random-state", type=int, default=42)
    # improved-BBHA surface (`scripts/parameters.py` --coeff-1/--coeff-2;
    # the variant itself is the reference's gated TODO, SURVEY.md §7.6)
    p.add_argument("--bbha-variant", default="classic", choices=("classic", "improved"))
    p.add_argument("--coeff-1", type=float, default=2.2)
    p.add_argument("--coeff-2", type=float, default=0.1)
    return p


def run_experiment(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Ingest -> clean -> BBHA -> write artifacts. Returns result dict."""
    from multiomix_aws_emr_spark.fs import bbha
    from multiomix_aws_emr_spark.sources.sinks import (
        write_metrics_parquet,
        write_model_artifact,
    )
    from multiomix_aws_emr_spark.sources.survival import (
        clean_wide,
        read_clinical_tsv,
        read_molecules_tsv,
    )

    t0 = _time.perf_counter()
    fitness, worst_fitness = _model_fitness(args)

    # The cleaned molecules matrix is the driver frame the metaheuristic
    # broadcasts (the reference's object, core.py:167-169); clinical joins
    # it on sample_id (inner), in sample order. reindex raises on a
    # repeated clinical sample id rather than misaligning time/event.
    x = clean_wide(read_molecules_tsv(spark, args.molecules_dataset))
    clinical = read_clinical_tsv(spark, args.clinical_dataset)
    ids = x.index.intersection(clinical.index).sort_values()
    pdf = x.loc[ids].rename_axis("sample_id")
    clinical = clinical.reindex(ids)
    time_col = clinical["time"].to_numpy(dtype=np.float64)
    event_col = clinical["event"].to_numpy(dtype=bool)

    if args.algorithm == "blind_search":
        result = bbha.run_blind_search(
            spark,
            pdf,
            time_col,
            event_col,
            n_subsets=args.n_stars,
            random_state=args.random_state,
            fitness_fn=fitness,
            worst_fitness=worst_fitness,
        )
    else:
        result = bbha.run_bbha(
            spark,
            pdf,
            time_col,
            event_col,
            n_stars=args.n_stars,
            n_iterations=args.bbha_iterations,
            random_state=args.random_state,
            fitness_fn=fitness,
            variant=args.bbha_variant,
            coeff_1=args.coeff_1,
            coeff_2=args.coeff_2,
            worst_fitness=worst_fitness,
        )

    if args.debug:
        # the reference's --debug logs every star's value in the terminal
        # (`scripts/parameters.py:105-107`, metaheuristics star logging)
        for row in result.history:
            print(
                f"[debug] iteration={row['iteration']} star={row['star_id']} "
                f"fitness={row['fitness']:.4f} n_features={row['n_features']}",
                file=sys.stderr,
            )

    os.makedirs(args.results_dir, exist_ok=True)
    # result.json (R24: core.py:277-285 — same shape)
    result_path = os.path.join(args.results_dir, "result.json")
    with open(result_path, "w") as fh:
        fh.write(result.to_result_json())
    # tidy per-(iteration, star) metrics (replaces D6), written from the
    # driver's history rows like the other two artifacts: no Spark job
    write_metrics_parquet(
        result.history, os.path.join(args.results_dir, "metrics.parquet")
    )
    # model artifact by path (R25)
    model_path = write_model_artifact(
        {
            "model": args.model,
            "algorithm": args.algorithm,
            "mask": result.best_mask.tolist(),
            "features": result.selected_features,
            "best_fitness": result.best_fitness,
            "random_state": args.random_state,
        },
        args.results_dir,
    )
    summary = {
        "app_name": args.app_name,
        "result_json": result_path,
        "model_path": model_path,
        "best_metric": round(result.best_fitness, 4),
        "n_features": len(result.selected_features),
        "wall_seconds": round(_time.perf_counter() - t0, 4),
    }
    if result.baseline_fitness is not None:
        # R34 (`scripts/core.py:282`): the all-features comparison metric.
        summary["baseline_metric"] = round(result.baseline_fitness, 4)
    return summary


def main(argv: list[str] | None = None) -> dict:
    args = build_arg_parser().parse_args(argv)
    from multiomix_aws_emr_spark.session import build_session

    spark = build_session(
        app_name=args.app_name, master=args.master
    )
    try:
        summary = run_experiment(spark, args)
        print(json.dumps(summary))
        return summary
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
