#!/usr/bin/env python
"""Targeted oracle-parity check for a subset of declared queries.

Usage: python tools/parity_check.py <qid> [qid ...] [--sf sf0.001,sf0.01]

Mirrors the driver's gate (rows + schema-width + sorted-row equality)
against the DuckDB oracle for just the named qids — the fast loop while
optimizing (full sweep stays tests/test_oracle_parity.py).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9) + 0.0
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row: tuple) -> tuple:
    """NULL-safe sort key for a normalized row: python cannot order None
    against ints (outer-join results carry NULLs, also inside arrays and
    structs), so mirror SQL NULLS-FIRST at every nesting level."""
    return tuple(
        (v is not None, _key(v) if isinstance(v, tuple) else v) for v in row
    )


def main() -> None:
    args = sys.argv[1:]
    sfs = ["sf0.001", "sf0.01"]
    if "--sf" in args:
        i = args.index("--sf")
        sfs = args[i + 1].split(",")
        del args[i : i + 2]
    qids = args

    import duckdb

    from multiomix_aws_emr_spark.queries import ORACLES, QUERIES
    from multiomix_aws_emr_spark.session import build_session

    spark = build_session(app_name="parity-check")
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for qid in qids:
            try:
                s_rows = sorted(
                    (
                        tuple(_norm(v) for v in r)
                        for r in QUERIES[qid](spark, sf_dir).collect()
                    ),
                    key=_key,
                )
                d_rows = sorted(
                    (
                        tuple(_norm(v) for v in r)
                        for r in con.sql(ORACLES[qid]).fetchall()
                    ),
                    key=_key,
                )
                ok = s_rows == d_rows
            except Exception as exc:  # noqa: BLE001
                print(f"{sf} {qid}: ERROR {type(exc).__name__}: {exc}"[:300])
                failures += 1
                continue
            if not ok:
                failures += 1
                sset, dset = set(s_rows), set(d_rows)
                print(
                    f"{sf} {qid}: MISMATCH spark={len(s_rows)} "
                    f"duck={len(d_rows)} onlyspark={list(sset - dset)[:3]} "
                    f"onlyduck={list(dset - sset)[:3]}"
                )
            else:
                print(f"{sf} {qid}: OK ({len(s_rows)} rows)")
        con.close()
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
