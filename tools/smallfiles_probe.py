"""Small-files tax: same bytes, varying file count — the classic 100 TB
ingest pathology, measured.

`maintenance_compact_files` (queries/formats.py) ships the FIX as a
declared operator, but the repo had no record of what small files
actually COST on the read path, or of which knob bounds the damage.
This probe materializes the SAME ~1.4 GB lineitem corpus (100x
key-shifted synth, reused from tools/scale_probe.py) at file counts
4 / 64 / 1024 / 8192 (≈350 MB down to ≈170 KB per file) and measures,
per layout:

  list_sec   driver-side listing + schema resolution (fresh
             InMemoryFileIndex per read — the planning cost object
             stores charge per query before any task runs)
  scan_sec   min-of-2 warm full-scan aggregate
             (groupBy(l_returnflag) count+sum revenue)
  splits     the scan's input partition count — Spark packs small files
             into splits of `maxPartitionBytes`, charging
             `openCostInBytes` (default 4 MB) per file, so task count
             stays bounded while per-file open/footer costs remain

and checks answer parity across layouts. A second 8192-file pass with
`spark.sql.files.openCostInBytes=0` isolates how much of the tax the
packing model can hide (fewer, fatter splits) vs what is irreducible
per-file work.

Layout writes are one-time and reused across invocations; clean with
rm -rf <out-root>/smallfiles.

Usage: python tools/smallfiles_probe.py [--src /root/testdata/sf0.1]
          [--out-root /tmp/scale_probe] [--counts 4,64,1024,8192]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _agg(spark, path: str):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


def measure_layout(spark, path: str) -> dict:
    t0 = time.perf_counter()
    df = spark.read.parquet(path)
    df.schema  # force listing + footer schema resolution
    list_sec = round(time.perf_counter() - t0, 3)
    splits = spark.read.parquet(path).rdd.getNumPartitions()
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        rows = _agg(spark, path).collect()
        walls.append(time.perf_counter() - t0)
    # keep revenue raw here: 60M-term double sums legitimately differ in
    # the last digits across file/partition orders (same lesson as
    # tools/skew_probe.py) — parity compares counts exactly and revenue
    # to 1e-9 relative, NOT a rounded-equality that flips on one cent
    answer = sorted((r.l_returnflag, r.n, r.revenue) for r in rows)
    return {
        "list_sec": list_sec,
        "scan_cold_sec": round(walls[0], 2),
        "scan_warm_sec": round(min(walls[1:]), 2),
        "splits": splits,
        "_answer": answer,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out-root", default="/tmp/scale_probe")
    ap.add_argument("--counts", default="4,64,1024,8192")
    args = ap.parse_args()
    counts = [int(c) for c in args.counts.split(",")]

    from multiomix_aws_emr_spark.session import build_session, scoped_confs
    from tools.scale_probe import synthesize

    spark = build_session(app_name="smallfiles_probe")
    spark.sparkContext.setLogLevel("ERROR")

    rel_dir = synthesize(
        spark,
        "relational",
        args.src,
        os.path.join(args.out_root, "relational_100x"),
        100,
    )
    src_li = f"{rel_dir}/lineitem.parquet"
    root = os.path.join(args.out_root, "smallfiles")

    layouts: dict[int, str] = {}
    for n in counts:
        dst = os.path.join(root, f"n_{n}")
        if not os.path.exists(dst):
            t0 = time.perf_counter()
            spark.read.parquet(src_li).repartition(n).write.mode(
                "overwrite"
            ).parquet(dst)
            print(
                json.dumps(
                    {"layout": n, "write_sec": round(time.perf_counter() - t0, 1)}
                ),
                flush=True,
            )
        layouts[n] = dst

    results: dict[int, dict] = {}
    for n, dst in layouts.items():
        results[n] = measure_layout(spark, dst)
        rec = {k: v for k, v in results[n].items() if not k.startswith("_")}
        print(json.dumps({"layout": n, **rec}), flush=True)

    # parity: counts exact, revenue to 1e-9 relative across every layout
    base_ans = results[min(counts)]["_answer"]
    parity = all(
        len(r["_answer"]) == len(base_ans)
        and all(
            a[0] == b[0]
            and a[1] == b[1]
            and abs(a[2] - b[2]) <= 1e-9 * max(abs(b[2]), 1.0)
            for a, b in zip(r["_answer"], base_ans)
        )
        for r in results.values()
    )

    # isolate the packing lever at the worst layout: openCostInBytes=0
    worst = max(counts)
    with scoped_confs(spark, {"spark.sql.files.openCostInBytes": "0"}):
        zero_cost = measure_layout(spark, layouts[worst])
    rec = {k: v for k, v in zero_cost.items() if not k.startswith("_")}
    print(
        json.dumps({"layout": worst, "openCostInBytes": 0, **rec}), flush=True
    )

    base = results[min(counts)]["scan_warm_sec"]
    print(
        json.dumps(
            {
                "parity": parity,
                "warm_tax_vs_best": {
                    n: round(results[n]["scan_warm_sec"] / max(base, 0.01), 2)
                    for n in counts
                },
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0 if parity else 1


if __name__ == "__main__":
    sys.exit(main())
