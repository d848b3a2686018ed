#!/usr/bin/env python
"""Per-batch telemetry for the streaming declared queries (guide §1).

Usage: python tools/stream_profile.py [qid ...] [--reps N]

Runs each streaming qid in a session warmed by ``session.warm_session``
with a StreamingQueryListener attached and prints, per run: the query
wall (``session.time_query``, the bench's timer), the number of
micro-batches, and the per-batch durationMs breakdown (triggerExecution,
queryPlanning, getBatch, latestOffset, addBatch, walCommit,
commitOffsets) plus state-store commit/total times — i.e. where the
micro-batch engine's fixed runtime actually goes, which the SQL-plan
dumps cannot show.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STREAMING_QIDS = [
    "stream_watermark_latedrop",
    "stream_stateful_totals",
    "stream_session_window",
    "stream_dedup_watermark",
    "stream_rollup_upsert",
    "stream_static_join",
    "stream_interval_join_full",
    "stream_interval_join_outer",
    "stream_incremental_ingest",
    "source_python_stream",
]


def main() -> None:
    args = list(sys.argv[1:])
    reps = 2
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    qids = args or STREAMING_QIDS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql.streaming import StreamingQueryListener

    from multiomix_aws_emr_spark.session import (
        build_session,
        time_query,
        warm_session,
    )

    spark = build_session(app_name="stream-profile")
    spark.sparkContext.setLogLevel("ERROR")

    # timestamps on time_query's clock (perf_counter): the seg breakdown
    # below subtracts them from t0
    events: list[dict] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events.append({"kind": "start", "t": time.perf_counter()})

        def onQueryProgress(self, e):
            try:
                p = json.loads(e.progress.json)
            except Exception:
                p = {}
            events.append(
                {"kind": "progress", "t": time.perf_counter(), "p": p}
            )

        def onQueryIdle(self, e):
            events.append({"kind": "idle", "t": time.perf_counter()})

        def onQueryTerminated(self, e):
            events.append({"kind": "term", "t": time.perf_counter()})

    spark.streams.addListener(Capture())

    warm_session(spark, sf_dir)

    for qid in qids:
        for rep in range(reps):
            events.clear()
            t0 = time.perf_counter()
            wall = time_query(spark, qid, sf_dir)
            progs = [e for e in events if e["kind"] == "progress"]
            batches = [
                p
                for p in progs
                if (p["p"].get("numInputRows") or 0) > 0
                or p["p"].get("batchId", -1) >= 0
            ]
            n_b = len(batches)
            tot = {}
            state = {"commit_ms": 0, "rows": 0, "mem_mb": 0.0}
            for b in batches:
                for k, v in (b["p"].get("durationMs") or {}).items():
                    tot[k] = tot.get(k, 0) + int(v)
                for op in b["p"].get("stateOperators") or []:
                    state["commit_ms"] += int(op.get("commitTimeMs", 0))
                    state["rows"] += int(op.get("numRowsTotal", 0))
                    state["mem_mb"] += (
                        int(op.get("memoryUsedBytes", 0)) / 1e6
                    )
            t_start = next(
                (e["t"] for e in events if e["kind"] == "start"), None
            )
            t_first = batches[0]["t"] if batches else None
            t_last = batches[-1]["t"] if batches else None
            t_term = next(
                (e["t"] for e in events if e["kind"] == "term"), None
            )
            seg = {
                "pre_start": (t_start - t0) if t_start else None,
                "start_to_first_batch": (
                    (t_first - t_start) if t_start and t_first else None
                ),
                "last_batch_to_term": (
                    (t_term - t_last) if t_term and t_last else None
                ),
                "term_to_done": (
                    (t0 + wall - t_term) if t_term else None
                ),
            }
            fmt_seg = {
                k: (round(v, 2) if v is not None else None)
                for k, v in seg.items()
            }
            print(
                f"{qid} rep{rep}: wall={wall:.2f}s batches={n_b} "
                f"durationMs={tot} state={state} seg={fmt_seg}",
                flush=True,
            )

    spark.stop()


if __name__ == "__main__":
    main()
