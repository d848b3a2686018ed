"""Multi-tier 10x/100x scale probe: verify scale-critical shapes grow ~linearly.

No fixture above sf0.1 exists in /root/testdata, so every 100 TB claim in
SURVEY.md §6 would otherwise rest on plan review alone. This probe
synthesizes DETERMINISTIC scaled tables from sf0.1 (no RNG anywhere — every
replica is a pure function of the source row and its copy index) and times
the scale-critical shapes of four tiers at both scales:

  documents   dedup_near_minhash, dedup_minhash_components,
              pipeline_curation_v3, pipeline_shuffle_shards,
              text_unigram_rarity
  relational  flagship_revenue_by_region, sql_shipping_priority (TPC-H Q3),
              sql_large_volume_customer (Q18), join_multiway, agg_groupby
  events      window_sessionize, funnel_conversion, cohort_retention,
              timeseries_gapfill, stream_tumbling
  embeddings  dedup_embedding_cosine, similarity_topk, similarity_ann_lsh,
              similarity_ivf

Synthesis per tier (all JVM-side expressions):

* documents — each doc replicated REPLICAS times; copy k re-orders the
  words of the text by the copy-keyed hash sort key md5(word || '#' || k).
  The per-copy word permutation keeps the WORD MULTISET intact (token
  stats match the source exactly) while wholesale rewriting the SHINGLE
  set: copies are NOT near-dups of each other, but two docs that were
  near-dups in the source stay near-dups WITHIN each copy, so the
  corpus-wide duplicate-pair count grows ~linearly, not quadratically.

* relational — TPC-H-style key-shifted replication: copy k maps every
  join key K to K * REPLICAS + k consistently across customer / orders /
  lineitem / part / supplier, so each copy is an independent shard of the
  economy. Every join's fan-out, every filter's selectivity, and every
  per-key group size are preserved EXACTLY; key cardinality grows
  linearly — the same way TPC-H itself scales with SF. nation/region stay
  fixed dims.

* events — event_id / user_id shifted per copy, timestamps and payload
  untouched: each user copy replays the identical event sequence, so
  session/funnel/cohort structure per user is preserved and the
  user-population (and therefore session count, funnel cohort size, etc.)
  grows linearly.

* embeddings — copy k applies a deterministic per-dimension sign flip
  s(i, k) ∈ {+1, -1} = md5(i || '#' || k). A sign flip is an ORTHOGONAL
  transform, so all pairwise cosines WITHIN a copy are preserved exactly
  (near-dup structure intact) while vectors from different copies are
  decorrelated — duplicate pairs again grow linearly with volume.

The survival tier is the paper's own job rather than a query set: seeded
molecules/clinical TSVs at the multi-omics shapes in SURVIVAL_SHAPES, each
run through ``experiment.run_experiment --model svm`` end to end. It
reports the ingest, search and sink wall (the phases sum to about the
experiment's wall), Spark jobs per phase and the summed per-star fitness
time, one JSON line per shape.

Usage:
  python tools/scale_probe.py [--tier documents|relational|events|embeddings|survival|all]
                              [--replicas 10] [--src /root/testdata/sf0.1]
                              [--out-root /tmp/scale_probe]

Prints one JSON line per tier per scale plus a ratio summary; exits
non-zero if any probed query grew superlinearly beyond the tolerance
(wall ratio > replicas * SLACK).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: superlinearity tolerance: wall ratio up to SLACK * replicas still counts
#: as linear (fixed per-query overheads, extra shuffle waves on a fixed
#: 32-thread host, and AQE plan variation all add constant-ish cost).
SLACK = 1.6

TIER_QUERIES = {
    "documents": (
        "dedup_near_minhash",
        "dedup_minhash_components",
        "pipeline_curation_v3",
        "pipeline_shuffle_shards",
        "text_unigram_rarity",
        # the transactional store's SNAPSHOT-READ path (r12): the warm
        # pass builds the session-shared two-batch store, so the timed
        # pass measures the as-of-v1 read (manifest lookup + index scan,
        # scales with the index). Build linearity at volume is
        # BASELINE.md's round-12 transactional-store measurement, not
        # this one.
        "dedup_store_time_travel",
    ),
    "relational": (
        "flagship_revenue_by_region",
        "sql_shipping_priority",
        "sql_large_volume_customer",
        "join_multiway",
        "agg_groupby",
        # runtime-bloom join (r12): the injected fact-side prune must keep
        # paying for itself as volume grows (BASELINE.md records the on/off
        # delta; this entry guards linearity of the on-path)
        "join_runtime_bloom",
    ),
    "events": (
        "window_sessionize",
        "funnel_conversion",
        "cohort_retention",
        "timeseries_gapfill",
        "stream_tumbling",
        # real stateful streaming runs: state grows with user population /
        # event rate within the watermark horizon — the streaming scale axis
        "stream_session_window",
        "stream_dedup_watermark",
        # the heaviest streaming state shape: stream-stream interval join
        # buffers BOTH sides within watermark + interval
        "stream_interval_join_outer",
        # the custom Python stateful operator (applyInPandasWithState):
        # Arrow-batched per-key state, the slow-path custom-operator claim
        "stream_stateful_totals",
    ),
    "embeddings": (
        "dedup_embedding_cosine",
        "similarity_topk",
        "similarity_ann_lsh",
        "similarity_ivf",
        # incremental ANN ingest (r12): quantizer train over history +
        # map-only batch assign — both sides linear in their slice
        "similarity_ivf_incremental",
        # int8 scalar quantization (r12): map-only, zero exchange —
        # the trivially-linear floor the other entries are judged against
        "embedding_quantize_int8",
    ),
    # the Arrow mapInPandas media batch path: genuine PPM/WAV decode,
    # resample round-trip, byte histogram, frame expansion — the
    # bytes/s-per-core number a 100 TB media pass needs
    "multimodal": (
        "multimodal_decode",
        "multimodal_features",
        "multimodal_resize_decode",
        "multimodal_audio_decode",
        "multimodal_framesample",
    ),
}

#: the row-count anchor table per tier (reported beside the timings).
TIER_ANCHOR = {
    "documents": "documents",
    "relational": "lineitem",
    "events": "events",
    "embeddings": "embeddings",
    "multimodal": "documents",
}

#: tables written TIME-ORDERED (range-partitioned by this column, part
#: mtimes stamped ascending). FileStreamSource replays files in mtime
#: order, so a randomly-partitioned events directory would deliver mostly
#: late rows in later micro-batches — the watermark would DROP them and
#: the stateful streaming probes would understate the real state work.
TIER_ORDER = {"events": ("events", "ts")}


def _replica_index(replicas: int):
    from pyspark.sql import functions as F

    return F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("k")


def _synth_documents(spark, src_dir: str, replicas: int):
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.sources.tables import load

    d = load(spark, src_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = d.select("*", _replica_index(replicas))
    scrambled = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.struct(
                        F.md5(
                            F.concat(w, F.lit("#"), F.col("k").cast("string"))
                        ).alias("h"),
                        w.alias("w"),
                    ),
                )
            ),
            lambda s: s["w"],
        ),
        " ",
    )
    return {
        "documents": rep.select(
            (F.col("doc_id") * replicas + F.col("k")).alias("doc_id"),
            scrambled.alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    }


#: relational tier: per-table join keys shifted to key * REPLICAS + k.
_RELATIONAL_KEYS = {
    "customer": ("c_custkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
}


def _synth_relational(spark, src_dir: str, replicas: int):
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.sources.tables import load

    out = {}
    for table, keys in _RELATIONAL_KEYS.items():
        # Spread the source across the cores BEFORE the 1000x explode:
        # a single-file fixture scans as ONE input partition, and the
        # explode inherits it — at --replicas 1000 that serializes a
        # 600M-row lineitem expansion into one task (observed: the r6
        # relational synth stalled ~20 min on exactly this).
        d = load(spark, src_dir, table).repartition(
            spark.sparkContext.defaultParallelism
        )
        rep = d.select("*", _replica_index(replicas))
        shifted = [
            (F.col(c) * replicas + F.col("k")).alias(c)
            if c in keys
            else F.col(c)
            for c in d.columns
        ]
        out[table] = rep.select(*shifted)
    return out


def _synth_events(spark, src_dir: str, replicas: int):
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.sources.tables import load

    d = load(spark, src_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = d.select("*", _replica_index(replicas))
    shifted = [
        (F.col(c) * replicas + F.col("k")).alias(c)
        if c in ("event_id", "user_id")
        else F.col(c)
        for c in d.columns
    ]
    return {"events": rep.select(*shifted)}


def _synth_embeddings(spark, src_dir: str, replicas: int):
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.sources.tables import load

    d = load(spark, src_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = d.select("*", _replica_index(replicas))
    # deterministic per-(dim, copy) sign in {+1, -1}: an orthogonal
    # transform per copy, so within-copy cosines are preserved exactly.
    flipped = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x
            * F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            i.cast("string"), F.lit("#"), F.col("k").cast("string")
                        )
                    ),
                    1,
                    1,
                )
                < "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
        ).cast("float"),
    )
    return {
        "embeddings": rep.select(
            (F.col("vec_id") * replicas + F.col("k")).alias("vec_id"),
            flipped.alias("embedding"),
            "label",
        )
    }


def _synth_multimodal(spark, src_dir: str, replicas: int):
    """documents replicated by doc_id shift with the text UNCHANGED — the
    cheap synth for the media tier. Every multimodal payload is a pure
    function of doc_id (PPM pixel = f(doc_id, i), WAV sample =
    f(doc_id, i), text payload = encode(text)), so shifting ids alone
    yields distinct decode work per copy; the word-scramble of
    :func:`_synth_documents` buys near-dup structure this tier never
    reads and would dominate a 1000x synth for nothing."""
    from pyspark.sql import functions as F

    from multiomix_aws_emr_spark.sources.tables import load

    d = load(spark, src_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = d.select("*", _replica_index(replicas))
    return {
        "documents": rep.select(
            (F.col("doc_id") * replicas + F.col("k")).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    }


_SYNTH = {
    "documents": _synth_documents,
    "relational": _synth_relational,
    "events": _synth_events,
    "embeddings": _synth_embeddings,
    "multimodal": _synth_multimodal,
}


def synthesize(spark, tier: str, src_dir: str, out_dir: str, replicas: int) -> str:
    """Materialize the tier's scaled tables + links to the untouched
    sibling tables; returns the synthetic sf dir."""
    from multiomix_aws_emr_spark.sources.tables import TABLE_NAMES

    os.makedirs(out_dir, exist_ok=True)
    scaled = _SYNTH[tier](spark, src_dir, replicas)
    ordered_table, order_col = TIER_ORDER.get(tier, (None, None))
    for table, df in scaled.items():
        dst = os.path.join(out_dir, f"{table}.parquet")
        if not os.path.exists(dst):
            if table == ordered_table:
                df.repartitionByRange(32, order_col).write.mode(
                    "overwrite"
                ).parquet(dst)
                parts = sorted(
                    f for f in os.listdir(dst) if f.endswith(".parquet")
                )
                base = time.time() - len(parts)
                for i, f in enumerate(parts):
                    os.utime(os.path.join(dst, f), (base + i, base + i))
            else:
                df.repartition(32).write.mode("overwrite").parquet(dst)
    for t in TABLE_NAMES:
        if t in scaled:
            continue
        dst = os.path.join(out_dir, f"{t}.parquet")
        src = os.path.join(src_dir, f"{t}.parquet")
        if not os.path.exists(dst) and os.path.exists(src):
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    return out_dir


def time_queries(spark, tier: str, sf_dir: str) -> dict[str, float]:
    from multiomix_aws_emr_spark.queries import QUERIES

    out: dict[str, float] = {}
    for qid in TIER_QUERIES[tier]:
        t0 = time.perf_counter()
        QUERIES[qid](spark, sf_dir).write.mode("overwrite").format("noop").save()
        out[qid] = round(time.perf_counter() - t0, 2)
    return out


def probe_tier(
    spark,
    tier: str,
    src_dir: str,
    out_root: str,
    replicas: int,
    sized: bool = False,
) -> list[str]:
    """Run one tier at 1x and REPLICAS x; returns the superlinear qids.

    ``sized=True`` exercises the rule-2 product hook on the BIG scale:
    ``spark.sql.shuffle.partitions`` is set per tier from
    ``session.sized_shuffle_partitions(parquet_bytes(anchor))`` before
    the big-dir runs (runtime-settable conf; restored after). Small-dir
    runs keep the session default — the helper floors at the core count
    there anyway."""
    big_dir = synthesize(
        spark, tier, src_dir, os.path.join(out_root, f"{tier}_{replicas}x"), replicas
    )
    anchor = TIER_ANCHOR[tier]
    n_small = spark.read.parquet(f"{src_dir}/{anchor}.parquet").count()
    n_big = spark.read.parquet(f"{big_dir}/{anchor}.parquet").count()

    # warm codegen/scan paths once per scale so ratios compare steady-state
    time_queries(spark, tier, src_dir)
    small = time_queries(spark, tier, src_dir)
    from multiomix_aws_emr_spark.session import (
        parquet_bytes,
        scoped_confs,
        sized_shuffle_partitions,
    )

    confs = None
    if sized:
        n_parts = sized_shuffle_partitions(
            parquet_bytes(os.path.join(big_dir, f"{anchor}.parquet"))
        )
        confs = {"spark.sql.shuffle.partitions": str(n_parts)}
        print(json.dumps({"tier": tier, "sized_shuffle_partitions": n_parts}))
    with scoped_confs(spark, confs):
        time_queries(spark, tier, big_dir)
        big = time_queries(spark, tier, big_dir)

    ratios = {
        q: round(big[q] / max(small[q], 0.01), 2) for q in TIER_QUERIES[tier]
    }
    superlinear = [q for q, r in ratios.items() if r > replicas * SLACK]
    print(json.dumps({"tier": tier, "scale": "sf0.1", "n_rows": n_small, "sec": small}))
    print(
        json.dumps(
            {"tier": tier, "scale": f"{replicas}x", "n_rows": n_big, "sec": big}
        )
    )
    print(
        json.dumps(
            {
                "tier": tier,
                "ratios_wall_big_over_small": ratios,
                "linear_budget": round(replicas * SLACK, 1),
                "superlinear": superlinear,
            }
        )
    )
    return superlinear


#: survival tier: (samples, features) of the generated molecules matrix.
SURVIVAL_SHAPES = ((300, 2_000), (100, 12_000))


def write_survival_tsvs(
    out_dir: str, seed: int, n_samples: int, n_features: int
) -> tuple[str, str]:
    """Seeded survival inputs in the reference's file layout: a molecules
    TSV stored features x samples (feature id first) and a clinical TSV
    (sample, event, time). Time falls with the sum of 4 planted features;
    a quarter of the samples is censored. Returns the two paths."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n_samples, n_features))
    planted = rng.choice(n_features, 4, replace=False)
    risk = x[:, planted].sum(axis=1)
    time_ = 100.0 * np.exp(-0.6 * risk + rng.normal(scale=0.3, size=n_samples))
    event = (rng.random(n_samples) >= 0.25).astype(int)
    samples = [f"S{i:04d}" for i in range(n_samples)]
    os.makedirs(out_dir, exist_ok=True)
    mol = os.path.join(out_dir, "molecules.tsv")
    clin = os.path.join(out_dir, "clinical.tsv")
    pd.DataFrame(
        np.round(x.T, 6),
        index=[f"GENE_{j:05d}" for j in range(n_features)],
        columns=samples,
    ).to_csv(mol, sep="\t", index_label="feature")
    pd.DataFrame(
        {"event": event, "time": np.round(time_, 4)}, index=samples
    ).to_csv(clin, sep="\t", index_label="sample")
    return mol, clin


def _grouped(spark, module, name: str, group: str, spent: dict):
    """Replace ``module.name`` with a wrapper that runs each call under
    Spark job group ``group`` and adds its wall to ``spent[group]``.
    Returns the undo. ``run_experiment`` resolves these names at call
    time, so the wrapper sees every call."""
    fn = getattr(module, name)
    sc = spark.sparkContext

    def wrapped(*args, **kwargs):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            spent[group] = spent.get(group, 0.0) + time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", outer)

    setattr(module, name, wrapped)
    return lambda: setattr(module, name, fn)


def probe_survival(
    spark,
    out_root: str,
    shapes=SURVIVAL_SHAPES,
    n_stars: int = 8,
    n_iterations: int = 2,
    seed: int = 1,
) -> list[dict]:
    """Run ``run_experiment --model svm`` (3-fold CV) end to end on
    seeded TSVs at each shape; print and return one record per shape."""
    import pandas as pd

    from multiomix_aws_emr_spark.experiment import build_arg_parser, run_experiment
    from multiomix_aws_emr_spark.fs import bbha
    from multiomix_aws_emr_spark.sources import sinks, survival

    tracker = spark.sparkContext.statusTracker()
    records = []
    for n_samples, n_features in shapes:
        shape = f"{n_samples}x{n_features}"
        mol, clin = write_survival_tsvs(
            os.path.join(out_root, "survival", shape), seed, n_samples, n_features
        )
        results = os.path.join(out_root, "survival", shape, "results")
        args = build_arg_parser().parse_args(
            ["--app-name", f"scale-probe-{shape}", "--molecules-dataset", mol,
             "--clinical-dataset", clin, "--results-dir", results,
             "--model", "svm", "--n-stars", str(n_stars),
             "--bbha-iterations", str(n_iterations), "--cv-folds", "3",
             "--random-state", str(seed)]
        )
        groups = {
            p: f"scale-probe-{shape}-{p}" for p in ("ingest", "search", "sink")
        }
        spent = dict.fromkeys(groups.values(), 0.0)
        undo = [
            _grouped(spark, survival, name, groups["ingest"], spent)
            for name in ("read_molecules_tsv", "read_clinical_tsv", "clean_wide")
        ] + [_grouped(spark, bbha, "run_bbha", groups["search"], spent)] + [
            _grouped(spark, sinks, name, groups["sink"], spent)
            for name in ("write_metrics_parquet", "write_model_artifact")
        ]
        t0 = time.perf_counter()
        try:
            summary = run_experiment(spark, args)
        finally:
            for u in undo:
                u()
        wall = time.perf_counter() - t0
        history = pd.read_parquet(os.path.join(results, "metrics.parquet"))
        rec = {
            "tier": "survival",
            "shape": shape,
            "stars": n_stars,
            "iterations": n_iterations,
            "wall_s": round(wall, 2),
            "ingest_s": round(spent[groups["ingest"]], 2),
            "search_s": round(spent[groups["search"]], 2),
            "sink_s": round(spent[groups["sink"]], 2),
            "fitness_s": round(float(history["exec_time"].sum()), 2),
            "ingest_jobs": len(tracker.getJobIdsForGroup(groups["ingest"])),
            "eval_jobs": len(tracker.getJobIdsForGroup(groups["search"])),
            "sink_jobs": len(tracker.getJobIdsForGroup(groups["sink"])),
            "evals": len(history),
            "best_metric": summary["best_metric"],
            "baseline_metric": summary["baseline_metric"],
        }
        print(json.dumps(rec), flush=True)
        records.append(rec)
    return records


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--tier", default="all", choices=[*TIER_QUERIES, "survival", "all"]
    )
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out-root", default="/tmp/scale_probe")
    ap.add_argument(
        "--sized-partitions",
        action="store_true",
        help="size spark.sql.shuffle.partitions for the big scale from "
        "the anchor table's on-disk bytes via "
        "session.sized_shuffle_partitions (rule 2) instead of keeping "
        "the session default",
    )
    args = ap.parse_args()

    from multiomix_aws_emr_spark.session import build_session

    spark = build_session(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    tiers = [*TIER_QUERIES, "survival"] if args.tier == "all" else [args.tier]
    superlinear: list[str] = []
    for tier in tiers:
        if tier == "survival":
            probe_survival(spark, args.out_root)
            continue
        superlinear += probe_tier(
            spark, tier, args.src, args.out_root, args.replicas,
            sized=args.sized_partitions,
        )
    spark.stop()
    return 1 if superlinear else 0


if __name__ == "__main__":
    sys.exit(main())
