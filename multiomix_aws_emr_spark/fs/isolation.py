"""Opt-in process isolation for fitness evaluation (R28).

The reference runs every CV fitness call inside a fresh
``multiprocessing.Process`` with a ``Queue`` for the result
(`scripts/main.py:200-226`, compute_cross_validation_spark) to contain
native-library memory leaks: the process dies, the leak dies with it.
Same mechanism here, generalized to any ``FitnessFn`` and hardened —
the reference's blocking ``q.get()`` deadlocks if the child crashes
before putting; this wrapper joins with a timeout and maps any abnormal
exit (crash, os._exit, OOM-kill, hang) to ``WORST_FITNESS`` so one bad
evaluation can't take down the executor's Python worker.

Opt-in because a fork per fitness call costs milliseconds and most
fitness functions here are pure NumPy (no native leaks to contain):

    fitness = isolated(cv_rank_svm_fitness, timeout=120.0)
    run_bbha(..., fitness_fn=fitness)
"""

from __future__ import annotations

import multiprocessing as mp
import queue as _queue
from typing import Optional

import numpy as np

from multiomix_aws_emr_spark.fs.fitness import WORST_FITNESS, FitnessFn


def _child(fn: FitnessFn, args: tuple, q: mp.Queue) -> None:
    try:
        q.put(("ok", float(fn(*args))))
    except BaseException as exc:  # noqa: BLE001 — report, then die
        try:
            q.put(("err", f"{type(exc).__name__}: {exc}"))
        except Exception:
            pass


def isolated(
    fn: FitnessFn,
    *,
    timeout: Optional[float] = None,
    on_failure: float = WORST_FITNESS,
) -> FitnessFn:
    """Wrap ``fn`` so each call runs in a fresh forked process.

    Returns ``on_failure`` (default WORST_FITNESS — the same sentinel the
    empty-subset guard uses, so a crashing subset simply loses the
    selection) when the child raises, crashes, or exceeds ``timeout``
    seconds.
    """

    def wrapper(
        x: np.ndarray,
        time: np.ndarray,
        event: np.ndarray,
        sample_ids: np.ndarray,
    ) -> float:
        ctx = mp.get_context("fork")
        q: mp.Queue = ctx.Queue(maxsize=1)
        p = ctx.Process(
            target=_child, args=(fn, (x, time, event, sample_ids), q)
        )
        p.start()
        p.join(timeout)
        if p.is_alive():  # hung: kill and score as failed
            p.terminate()
            p.join(5.0)
            return on_failure
        try:
            # A short blocking get, not get_nowait(): after a clean child
            # exit the queue's feeder-thread flush can race the parent's
            # pipe poll, so an immediate read may spuriously raise Empty
            # and score a successful evaluation as WORST_FITNESS.
            kind, payload = q.get(timeout=1.0)
        except _queue.Empty:
            return on_failure  # died before reporting (segfault/_exit/OOM)
        if kind != "ok":
            return on_failure
        return payload

    wrapper.__name__ = f"isolated_{getattr(fn, '__name__', 'fitness')}"
    return wrapper
