#!/usr/bin/env python
"""Time individual declared queries in a warm session (noop sink, guide §1.4).

Usage: python tools/solo_time.py <qid> [qid ...] [--reps N]

Builds the bench session, warms it with ``session.warm_session`` and times
each qid ``--reps`` times with ``session.time_query`` — the same two calls
bench.py makes — then prints min/median per qid. Use for targeted A/B
while optimizing; the recorded numbers live in BENCH_BANDS.json via
tools/bench_bands.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    qids = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from multiomix_aws_emr_spark.session import (
        build_session,
        time_query,
        warm_session,
    )

    spark = build_session(app_name="solo-time")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, sf_dir)

    for qid in qids:
        times = [round(time_query(spark, qid, sf_dir), 3) for _ in range(reps)]
        times_sorted = sorted(times)
        print(
            f"{qid}: min={times_sorted[0]} med={times_sorted[len(times)//2]} "
            f"all={times}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
