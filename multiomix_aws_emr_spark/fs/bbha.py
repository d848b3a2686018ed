"""Binary Black Hole Algorithm (BBHA) feature selection, Spark-native.

Re-founds the reference's core compute job
(`scripts/metaheuristics.py:468-734`) on DataFrame + Arrow primitives:

- star population: a small driver-side list of (star_id, mask) pairs (D3);
  the reference's `sc.parallelize` + pinned `partitionBy` + `mapPartitions`
  (`metaheuristics.py:248,297-299`, R7/R8/R9) becomes contiguous bins by
  the reference's sequential partitioner ``pos * n_bins // n_stars``
  (`:290`, R8) and one ``mapInPandas`` job over ``spark.range(k)`` in
  ``k`` partitions: one task per non-empty bin, no exchange, so the bins
  really decide placement (a ``groupBy('bin_id')`` shuffle of KB-sized
  star rows is coalesced by AQE into one task). The reference's learned
  runtime model with greedy bin packing (R30/R31) is not kept: measured
  here it placed stars no faster than the sequential bins, so
  ``--use-load-balancer`` is accepted and ignored;
- the all-features baseline (`scripts/core.py:171-179`, R34) is one more
  row of iteration 0's pass, star -1, so a run launches one evaluation
  job per iteration;
- each evaluation task ends by releasing its reused Python worker's zip
  importers (:func:`_release_zip_importers`): on CPython before 3.13 the
  next task's ``importlib.invalidate_caches()`` would otherwise re-read
  about 27k zip directory entries, a fixed cost larger than a star's
  fitness at small shapes;
- the molecules matrix ships once per executor via ``sc.broadcast``
  (`scripts/core.py:167-169`, R12/P1 — unchanged, it is the right tool),
  destroyed when the run ends so a shared session does not keep it. The
  reference's ``--use-broadcast false`` (payload in each task closure) is
  accepted and ignored: PySpark broadcasts any command over 1 MB itself,
  and the closure path measured no faster;
- per-iteration driver loop: arg-best black-hole selection with the
  fewer-features tie-break (`metaheuristics.py:647-681`, R14/R15), the
  Euclidean event-horizon test (`:683-694`, R16), the tanh position update
  (`:696-705`, R17), seeded random re-initialization (`:307-327`, R18);
- the bounded ``collect`` of n_stars fitness rows per iteration matches
  the reference's synchronous loop (`:300`, R11/P7) — the only driver
  materialization in the engine, O(n_stars), independent of data size;
- per-host runtime accounting (`:617-645,707-714`, R19/R20) is re-emitted
  as a tidy metrics DataFrame instead of a dict of parallel lists (D6).

Algorithm semantics follow the published BBHA (Hatamlou 2013, "Black hole:
a new heuristic optimization approach"; binary variant as described in the
reference's docstrings). Documented deviations from the reference's loop
(search trajectories therefore differ; the final contract — best mask by
CV fitness with the fewer-features tie-break — is the same):

- RNG stream: NOT a bit-for-bit replay (NumPy legacy RandomState calls
  differ), but seed threading has the same shape — star i initializes
  from seed ``random_state * (i + 1)`` (`metaheuristics.py:524-527`) and
  the loop RNG from ``random_state``.
- Update/capture order: this loop applies the position update and THEN
  tests event-horizon capture on the updated star; the reference captures
  first and only updates survivors (`metaheuristics.py:683-705`). The
  paper's formulation evaluates capture on current positions, so both
  orders are published-BBHA-consistent; this one keeps the update
  vectorizable over the whole population.
- Horizon denominator: the radius here is ``f_bh / sum(all fitnesses)``
  — the paper's definition. The reference computes ``f_bh /
  np.sum(f_a)`` where ``f_a`` is a scalar, making an effectively
  per-star horizon ``f_bh / f_a`` (`metaheuristics.py:684-694`); that
  form captures far more aggressively. The paper form is kept
  deliberately.
"""

from __future__ import annotations

import json
import socket
import sys
import time as _time
import zipimport
from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.fs.fitness import (
    WORST_FITNESS,
    FitnessFn,
    cv_linear_cox_fitness,
)


def random_mask(n_features: int, rng: np.random.RandomState) -> np.ndarray:
    """Seeded random subset: random number of ones, shuffled positions
    (semantics of `metaheuristics.py:307-327`, R18)."""
    n_ones = rng.randint(1, n_features + 1)
    mask = np.zeros(n_features, dtype=np.int32)
    mask[:n_ones] = 1
    rng.shuffle(mask)
    return mask


@dataclass
class BBHAResult:
    best_mask: np.ndarray
    best_fitness: float
    selected_features: list[str]
    n_iterations: int
    execution_time: float
    history: list[dict] = field(default_factory=list)
    #: R34 (`scripts/core.py:171-179`): CV fitness of the all-features
    #: mask, evaluated once in iteration 0's pass as the comparison
    #: baseline.
    baseline_fitness: Optional[float] = None

    def history_df(self, spark: SparkSession) -> DataFrame:
        """Per-(iteration, star) metrics as a tidy DataFrame — replaces the
        reference's dict-of-parallel-lists result (D6)."""
        return spark.createDataFrame(
            pd.DataFrame(self.history),
            schema=(
                "iteration int, star_id int, fitness double, n_features int, "
                "exec_time double, hostname string"
            ),
        )

    def host_metrics_df(self, spark: SparkSession) -> DataFrame:
        """Per-host per-iteration busy time (`metaheuristics.py:617-645`,
        R19) with population-σ summary stats (`:707-714`, R20) left to the
        caller via stddev_pop."""
        h = self.history_df(spark)
        return h.groupBy("hostname", "iteration").agg(
            F.round(F.sum("exec_time"), 4).alias("busy_sec"),
            F.count(F.lit(1)).alias("n_stars"),
        )

    def to_result_json(self) -> str:
        """The reference's result.json shape (`scripts/core.py:277-285`,
        R24): features as a ' | '-joined string + scalars, including the
        all-features baseline under the reference's own key name
        (``best_metric_with_all_features``, `core.py:282`, R34)."""
        payload = {
            "features": " | ".join(self.selected_features),
            "best_metric": round(self.best_fitness, 4),
            "n_iterations": self.n_iterations,
            "execution_time": round(self.execution_time, 4),
        }
        if self.baseline_fitness is not None:
            payload["best_metric_with_all_features"] = round(
                self.baseline_fitness, 4
            )
        return json.dumps(payload)


def _make_evaluator(bc, fitness_fn: FitnessFn, worst_fitness: float = WORST_FITNESS):
    """Bin evaluator: one ``(star_id, mask)`` frame per bin, one fitness
    call per star in the bin (the reference's mapPartitions body,
    `metaheuristics.py:214-222` + zero-feature guard `core.py:52-77`).

    ``worst_fitness`` is the zero-feature sentinel; callers whose fitness
    is unbounded below (clustering ``log_likelihood`` scoring) must pass
    ``float('-inf')`` — the reference's NEG_INF (`scripts/core.py:74`) —
    so the empty subset can never outrank a valid one."""

    def evaluate(pdf: pd.DataFrame) -> pd.DataFrame:
        payload = bc.value
        x = payload["values"]
        out = []
        host = socket.gethostname()
        for star_id, mask in zip(pdf["star_id"], pdf["mask"]):
            m = np.asarray(mask, dtype=np.int32)
            start = _time.perf_counter()
            if m.sum() == 0:
                fit = worst_fitness  # R13: never evaluate the empty subset
            else:
                fit = fitness_fn(
                    x[:, m == 1],
                    payload["time"],
                    payload["event"],
                    payload["sample_ids"],
                )
            out.append(
                (
                    int(star_id),
                    float(fit),
                    int(m.sum()),
                    _time.perf_counter() - start,
                    host,
                )
            )
        return pd.DataFrame(
            out, columns=["star_id", "fitness", "n_features", "exec_time", "hostname"]
        )

    return evaluate


_EVAL_SCHEMA = (
    "star_id int, fitness double, n_features int, exec_time double, hostname string"
)


def _release_zip_importers() -> None:
    """Drop this process's cached zip importers and zip directories.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). On CPython
    before 3.13 that makes every ``zipimporter`` in
    ``sys.path_importer_cache`` re-read its archive's whole directory:
    ``pyspark.zip`` once per cached subpackage path, the Spark jar, py4j
    and the shipped package zip, about 27k entries and 0.25 s of every
    task on a 4-core host. With the importers gone the next task has
    nothing to re-read; a later import builds a fresh importer and reads
    its archive once, as CPython 3.13's lazy invalidation does. Loaded
    modules keep their own loaders, so nothing already imported is
    affected."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.clear()


def sequential_bins(n: int, n_bins: int) -> list[np.ndarray]:
    """The reference's sequential partitioner ``key * W // N``
    (`metaheuristics.py:290`, R8): position ``pos`` of ``n`` goes to bin
    ``pos * n_bins // n``. Returns the positions of each non-empty bin, in
    bin order, so every bin is a contiguous range."""
    bin_of = np.arange(n) * n_bins // max(n, 1)
    return [np.flatnonzero(bin_of == b) for b in np.unique(bin_of)]


def _evaluate(
    spark: SparkSession, evaluator, iteration: int, stars: list, n_bins: int
) -> list[dict]:
    """One evaluation pass over ``(star_id, mask)`` pairs: one Spark job
    with no exchange and one task per non-empty bin, then one bounded
    collect (P7). Stars go to bins by :func:`sequential_bins`, so each
    bin is a contiguous range of positions. The ranges ride in the
    task closure with the bit-packed masks; ``spark.range(k)`` over ``k``
    partitions gives each task exactly one bin, so the bins decide
    placement — the reference's pinned ``partitionBy``
    (`metaheuristics.py:248,297-300`, R7–R9). Each task ends with
    :func:`_release_zip_importers`, so the worker's next task starts
    without re-reading zip directories. Returns the history rows
    (``iteration`` plus the :data:`_EVAL_SCHEMA` fields) sorted by star
    id."""
    n = len(stars)
    star_ids = np.array([s for s, _ in stars], dtype=np.int32)
    packed = np.packbits(np.array([m for _, m in stars], dtype=bool), axis=1)
    width = len(stars[0][1])
    bins = sequential_bins(n, n_bins)

    def run(batches):
        for batch in batches:
            for i in batch["id"]:
                pos = bins[i]
                masks = np.unpackbits(packed[pos], axis=1, count=width)
                yield evaluator(
                    pd.DataFrame({"star_id": star_ids[pos], "mask": list(masks)})
                )
        _release_zip_importers()

    k = len(bins)
    res = spark.range(0, k, 1, k).mapInPandas(run, _EVAL_SCHEMA).collect()
    return [
        {"iteration": iteration, **r.asDict()}
        for r in sorted(res, key=lambda r: r.star_id)
    ]


def evaluate_all_features_baseline(
    spark: SparkSession, evaluator, n_features: int
) -> dict:
    """R34 (`scripts/core.py:171-179`): evaluate ``np.ones(n_features)``
    through the SAME evaluator the search uses (the reference routes it
    through the same ``compute_cross_validation``), so the baseline is
    measured under identical CV folds and seeding. One 1-task Spark job;
    returned as a history-row dict with the reserved coordinates
    ``iteration=-1, star_id=-1``. :func:`run_bbha` does not call this: it
    evaluates the same row inside iteration 0's pass."""
    [row] = _evaluate(spark, evaluator, -1, [(-1, np.ones(n_features, np.int32))], 1)
    return row


#: Admissible improved-variant coefficients (`metaheuristics.py:358-367`,
#: from Gholizadeh/Razavi/Shojaei, "Improved black hole and multiverse
#: algorithms for discrete sizing optimization of planar structures").
IMPROVED_COEFF_1 = (2.2, 2.35)
IMPROVED_COEFF_2 = (0.1, 0.2, 0.3)


def run_bbha(
    spark: SparkSession,
    x: pd.DataFrame,
    time_col: np.ndarray,
    event_col: np.ndarray,
    *,
    n_stars: int = 10,
    n_iterations: int = 5,
    random_state: int = 42,
    binarization_threshold: Optional[float] = 0.6,
    n_bins: Optional[int] = None,
    fitness_fn: FitnessFn = cv_linear_cox_fitness,
    variant: str = "classic",
    coeff_1: float = 2.2,
    coeff_2: float = 0.1,
    worst_fitness: float = WORST_FITNESS,
) -> BBHAResult:
    """Run BBHA feature selection over a samples x features pandas frame.

    ``x`` is broadcast once (bounded: the molecules matrix — the star
    population, not the data, is what distributes). Every pass places its
    stars in ``n_bins`` contiguous bins by the reference's sequential
    partitioner (R8; default ``defaultParallelism``, the R33 executor
    count), and each non-empty bin is one task of the iteration's
    evaluation job. Bins decide which task runs a star, never what it
    computes. ``n_stars`` and ``n_iterations`` must be at least 1.

    ``variant='improved'`` applies the three modifications of the improved
    BBHA the reference gates behind a flag (`metaheuristics.py:342-465`,
    a declared TODO there — SURVEY.md §7.6):

    1. event horizon ``(1/f_bh) / sum(1/f)`` instead of ``f_bh / sum(f)``
       (`:441`);
    2. a captured star toggles ONE random dimension instead of full
       re-initialization (`:449-451`);
    3. the position update blends attraction to the black hole with the
       star's own best position, with iteration-decaying weights
       ``d{1,2} = coeff_{1,2} + (1 - i/n)`` (`:453-465`); a ``None``
       binarization threshold draws a fresh uniform threshold per
       dimension, as the paper specifies.
    """
    if n_stars < 1 or n_iterations < 1:
        raise ValueError(
            f"n_stars ({n_stars}) and n_iterations ({n_iterations}) must be >= 1"
        )
    if variant not in ("classic", "improved"):
        raise ValueError("variant must be 'classic' or 'improved'")
    if variant == "improved":
        if coeff_1 not in IMPROVED_COEFF_1:
            raise ValueError(f"coeff_1 must be one of {IMPROVED_COEFF_1}")
        if coeff_2 not in IMPROVED_COEFF_2:
            raise ValueError(f"coeff_2 must be one of {IMPROVED_COEFF_2}")
    t_start = _time.perf_counter()
    sc = spark.sparkContext
    n_features = x.shape[1]
    feature_names = list(x.columns)
    if n_bins is None:
        n_bins = max(1, sc.defaultParallelism)  # R33 executor discovery analog

    # Star initialization: star i from seed random_state * (i + 1)
    # (seed threading shape of metaheuristics.py:524-527).
    masks = [
        random_mask(n_features, np.random.RandomState(random_state * (i + 1)))
        for i in range(n_stars)
    ]
    loop_rng = np.random.RandomState(random_state)

    history: list[dict] = []
    baseline: Optional[dict] = None
    bh_idx, bh_fitness = -1, -np.inf
    # improved variant: per-star personal bests (`metaheuristics.py:371-374`)
    best_masks = [m.copy() for m in masks]
    best_fitnesses = np.full(n_stars, -np.inf)

    bc = sc.broadcast(
        {
            "values": x.to_numpy(dtype=np.float64),
            "sample_ids": x.index.to_numpy(),
            "time": np.asarray(time_col, dtype=np.float64),
            "event": np.asarray(event_col, dtype=bool),
        }
    )
    evaluator = _make_evaluator(bc, fitness_fn, worst_fitness)
    try:
        for iteration in range(n_iterations):
            # R34 (`core.py:171-179`): iteration 0's pass also evaluates the
            # all-features baseline, as star -1, binned like a star.
            stars = list(enumerate(masks))
            if iteration == 0:
                stars.insert(0, (-1, np.ones(n_features, dtype=np.int32)))
            rows = _evaluate(spark, evaluator, iteration, stars, n_bins)
            if iteration == 0:
                baseline = {**rows.pop(0), "iteration": -1}
                history.append(baseline)
            history.extend(rows)
            fitnesses = np.array([r["fitness"] for r in rows])
            improved = fitnesses > best_fitnesses
            for i in np.nonzero(improved)[0]:
                best_fitnesses[i] = fitnesses[i]
                best_masks[i] = masks[i].copy()

            # Black-hole selection: arg-best with fewer-features tie-break
            # (metaheuristics.py:647-681, R14/R15).
            order = sorted(
                range(n_stars),
                key=lambda i: (-fitnesses[i], int(masks[i].sum()), i),
            )
            if bh_idx < 0 or fitnesses[order[0]] > bh_fitness or (
                fitnesses[order[0]] == bh_fitness
                and masks[order[0]].sum() < masks[bh_idx].sum()
            ):
                bh_idx, bh_fitness = order[0], float(fitnesses[order[0]])
            bh_mask = masks[bh_idx].copy()

            if iteration == n_iterations - 1:
                break

            if variant == "improved":
                # Improvement 1: reciprocal event horizon (`:441`).
                safe = np.clip(fitnesses, 1e-9, None)
                horizon = (1.0 / max(bh_fitness, 1e-9)) / float((1.0 / safe).sum())
            else:
                # Classic radius: f_bh / sum(f) (metaheuristics.py:684, R16);
                # fitness clipped at 0 so worst sentinels don't flip signs.
                total = float(np.clip(fitnesses, 0, None).sum()) or 1.0
                horizon = max(bh_fitness, 0.0) / total

            # Improvement 3 weights: iteration-decaying pull toward the black
            # hole (d1) and the star's own best (d2) (`:453-456`).
            w = 1.0 - iteration / n_iterations
            d1, d2 = coeff_1 + w, coeff_2 + w

            for i in range(n_stars):
                if i == bh_idx:
                    continue
                rand = loop_rng.random_sample(n_features)
                if variant == "improved":
                    rand2 = loop_rng.random_sample(n_features)
                    x_new = (
                        masks[i]
                        + d1 * rand * (bh_mask - masks[i])
                        + d2 * rand2 * (best_masks[i] - masks[i])
                    )
                else:
                    # Position update (metaheuristics.py:696-705, R17):
                    # x_new = x + rand * (bh - x).
                    x_new = masks[i] + rand * (bh_mask - masks[i])
                if binarization_threshold is None:
                    thr = loop_rng.random_sample(n_features)
                else:
                    thr = binarization_threshold
                masks[i] = (np.abs(np.tanh(x_new)) > thr).astype(np.int32)

                captured = float(np.linalg.norm(bh_mask - masks[i])) < horizon
                if variant == "improved" and captured:
                    # Improvement 2: capture toggles ONE random dimension
                    # (`:449-451`) instead of re-initializing the star.
                    masks[i][loop_rng.randint(0, n_features)] ^= 1
                    captured = False
                # Classic event-horizon capture -> seeded re-initialization
                # (metaheuristics.py:683-694, R16/R18); an all-zero mask
                # re-randomizes in both variants (the zero subset is invalid
                # by R13).
                if captured or masks[i].sum() == 0:
                    masks[i] = random_mask(
                        n_features,
                        np.random.RandomState(
                            random_state * (i + 1) + 1000 * (iteration + 1)
                        ),
                    )
    finally:
        # PySpark keeps a broadcast's payload in a file under the
        # context's temp dir, and the executors keep its blocks, until
        # it is destroyed: a shared session would hold one molecules
        # matrix per finished run.
        bc.destroy()

    best_mask = masks[bh_idx]
    return BBHAResult(
        best_mask=best_mask,
        best_fitness=bh_fitness,
        selected_features=[
            f for f, b in zip(feature_names, best_mask) if b
        ],
        n_iterations=n_iterations,
        execution_time=_time.perf_counter() - t_start,
        history=history,
        baseline_fitness=None if baseline is None else baseline["fitness"],
    )


def run_blind_search(
    spark: SparkSession,
    x: pd.DataFrame,
    time_col: np.ndarray,
    event_col: np.ndarray,
    *,
    n_subsets: int = 30,
    random_state: int = 42,
    n_bins: Optional[int] = None,
    fitness_fn: FitnessFn = cv_linear_cox_fitness,
    worst_fitness: float = WORST_FITNESS,
) -> BBHAResult:
    """Blind (random) search: evaluate ``n_subsets`` seeded random feature
    subsets in one pass and keep the best.

    The reference declares BLIND_SEARCH as its second algorithm
    (`src/emr.py:10-14`) but never implements it (a TODO, SURVEY.md
    §7.6). Its semantics are the degenerate BBHA, so this is exactly a
    one-iteration :func:`run_bbha`: the stars are seeded like BBHA's
    (subset i from ``random_state * (i + 1)``,
    `scripts/metaheuristics.py:524-527`), iteration 0's black hole is the
    arg-best with the fewer-features tie-break (`:670-681`, R15), and the
    loop ends before any position update. The all-features baseline
    (R34) is reported as for BBHA."""
    return run_bbha(
        spark,
        x,
        time_col,
        event_col,
        n_stars=n_subsets,
        n_iterations=1,
        random_state=random_state,
        n_bins=n_bins,
        fitness_fn=fitness_fn,
        worst_fitness=worst_fitness,
    )
