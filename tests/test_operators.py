"""Operator-level tests: SimHash invariants, MinHash-LSH on crafted
near-dups, ANN-vs-brute-force recall, multimodal plumbing, as-of join vs a
pandas reference."""

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from multiomix_aws_emr_spark.operators.dedup import minhash_lsh_clusters
from multiomix_aws_emr_spark.operators.multimodal import (
    attach_binary_payload,
    byte_histogram_features,
)
from multiomix_aws_emr_spark.operators.similarity import ann_lsh_topk
from multiomix_aws_emr_spark.operators.simhash import (
    hamming_distance,
    simhash,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different words about spark query engines here"),
        (4, "yet another unrelated document mentioning parquet and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_simhash_invariants(spark):
    d = _docs(spark)
    sig = simhash(d, id_col="doc_id", text_col="text")
    twice = {r.doc_id: r.simhash for r in sig.collect()}
    again = {r.doc_id: r.simhash for r in simhash(d, id_col="doc_id", text_col="text").collect()}
    assert twice == again  # deterministic
    assert twice[0] == twice[1]  # identical text -> identical fingerprint

    pairs = (
        sig.alias("a")
        .join(sig.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
        )
    )
    dist = {(r.ia, r.ib): r.d for r in pairs.collect()}
    assert dist[(0, 1)] == 0
    assert dist[(0, 2)] < dist[(0, 3)]  # near dup closer than unrelated


def test_temporal_join_versions_and_left_nulls(spark):
    from multiomix_aws_emr_spark.operators.asof import temporal_join

    dim = spark.createDataFrame(
        [(1, 10, "v1"), (1, 20, "v2"), (2, 15, "w1")],
        "k bigint, t bigint, ver string",
    )
    fact = spark.createDataFrame(
        [(100, 1, 5), (101, 1, 10), (102, 1, 25), (103, 2, 14)],
        "fid bigint, k bigint, t bigint",
    )
    inner = {
        r.fid: r.ver
        for r in temporal_join(
            fact, dim, key_cols=["k"], time_col="t", payload_cols=["ver"]
        ).collect()
    }
    # fid 100 precedes every version (dropped); 101 hits v1 at equal ts
    # (inclusive); 102 gets the latest prior version; 103 precedes w1
    assert inner == {101: "v1", 102: "v2"}
    left = {
        r.fid: r.ver
        for r in temporal_join(
            fact, dim, key_cols=["k"], time_col="t", payload_cols=["ver"], how="left"
        ).collect()
    }
    assert left == {100: None, 101: "v1", 102: "v2", 103: None}


def test_simhash_portable_swar_matches_per_bit(spark):
    """The 60-bit SWAR vote packing must be bit-exact vs the naive
    per-bit majority formulation on the portable hash."""
    from multiomix_aws_emr_spark.functions.porthash import phash60

    d = _docs(spark)
    swar = {
        r.doc_id: r.simhash
        for r in simhash(d, id_col="doc_id", text_col="text", portable=True).collect()
    }
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "").withColumn("h", phash60("t"))
    per_bit = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"c{b}")
            for b in range(60)
        ],
    )
    naive_fp = None
    for b in range(60):
        bit = F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        naive_fp = bit if naive_fp is None else naive_fp + bit
    naive = {
        r.doc_id: r.fp for r in per_bit.select("doc_id", naive_fp.alias("fp")).collect()
    }
    assert swar == naive
    assert all(0 <= v < (1 << 60) for v in swar.values())


def test_minhash_portable_clustering_invariants(spark):
    """The portable (K-M double-hashed md5) family is a different hash
    family than xxhash64, so near-threshold LSH decisions may legitimately
    differ — but the stable invariants must hold: determinism, exact dups
    clustered, unrelated docs singleton, totality over the corpus."""
    d = _docs(spark)
    portable = {
        r.doc_id: r.rep_id
        for r in minhash_lsh_clusters(
            d, text_col="text", id_col="doc_id", portable=True
        ).collect()
    }
    again = {
        r.doc_id: r.rep_id
        for r in minhash_lsh_clusters(
            d, text_col="text", id_col="doc_id", portable=True
        ).collect()
    }
    assert portable == again  # deterministic
    assert len(portable) == 5  # total over corpus
    assert portable[1] == 0  # exact dup bucketed with its original
    assert portable[3] == 3 and portable[4] == 4  # unrelated stay singleton


def test_minhash_clusters_group_near_dups(spark):
    d = _docs(spark)
    clusters = {
        r.doc_id: r.rep_id
        for r in minhash_lsh_clusters(d, text_col="text", id_col="doc_id").collect()
    }
    assert len(clusters) == 5  # total over corpus (singletons included)
    assert clusters[1] == 0  # exact dup bucketed with its original
    assert clusters[3] == 3 and clusters[4] == 4  # unrelated stay singleton


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ann = ann_lsh_topk(
        emb, id_col="vec_id", vec_col="embedding", query_ids=[0], k=5, n_planes=6
    )
    got = [r.id_b for r in ann.orderBy("rn").collect()]
    assert len(got) == 5

    # brute force ground truth
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 0
    }
    true_top = [v for v, _ in sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:25]]
    # approximate (multi-probe hamming<=2): every returned neighbor must
    # land within the true top-25 (measured ranks <=15 at sf0.001/sf0.01)
    assert set(got) <= set(true_top)


def test_ann_lsh_full_probe_equals_exact(spark, sf_dir):
    """Probing ALL buckets (probe_hamming == n_planes) makes every corpus
    vector a candidate, so the LSH result must EQUAL the exact top-k —
    the closure property that catches a silently-capped probe depth (an
    earlier flips generator ignored probe_hamming > 2, so deeper probes
    added no candidates and recall silently plateaued)."""
    from multiomix_aws_emr_spark.operators.similarity import exact_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = ann_lsh_topk(
        emb, id_col="vec_id", vec_col="embedding", query_ids=[0], k=5,
        n_planes=4, probe_hamming=4,
    )
    exact = exact_topk(emb, id_col="vec_id", vec_col="embedding", query_ids=[0], k=5)
    as_set = lambda df: {  # noqa: E731
        (r.query_id, r.id_b, r.cos_sim, r.rn) for r in df.collect()
    }
    assert as_set(full) == as_set(exact)


def test_multimodal_features_shape(spark):
    d = _docs(spark)
    media = attach_binary_payload(d, id_col="doc_id", text_col="text")
    assert [f.name for f in media.schema.fields] == ["doc_id", "payload", "meta"]
    assert media.schema["payload"].dataType.typeName() == "binary"

    feats = byte_histogram_features(media).collect()
    assert len(feats) == 5
    for r in feats:
        assert len(r.features) == 16
        assert sum(r.features) == r.n_bytes  # histogram partitions all bytes


def test_asof_matches_pandas_reference(spark):
    from multiomix_aws_emr_spark.operators.asof import asof_latest_prior

    rng = np.random.RandomState(3)
    n = 300
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.randint(0, 5, n),
            "ts_ms": rng.randint(0, 10_000, n),
            "event_type": rng.choice(["signup", "purchase", "click"], n),
        }
    )
    df = spark.createDataFrame(pdf)
    out = asof_latest_prior(
        df,
        user_col="user_id",
        time_col="ts_ms",
        type_col="event_type",
        anchor_type="purchase",
        lookup_type="signup",
        id_col="event_id",
        out_col="signup_ts_ms",
    )
    got = {r.event_id: r.signup_ts_ms for r in out.collect()}

    expected = {}
    for _, row in pdf[pdf.event_type == "purchase"].iterrows():
        s = pdf[
            (pdf.event_type == "signup")
            & (pdf.user_id == row.user_id)
            & (pdf.ts_ms <= row.ts_ms)
        ]
        if len(s):
            expected[row.event_id] = int(s.ts_ms.max())
    assert got == expected


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with fitted spherical-k-means centroids: hits must be real
    near-neighbors, and recall must beat the lowest-id 'sample' quantizer
    at the same n_probe (query ids chosen away from the sample centroids,
    which would otherwise sit at their own cell centers and cheat)."""
    from multiomix_aws_emr_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [100, 101, 102, 103, 104, 105]

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def true_top(qid, k):
        q = vecs[qid]
        sims = {
            vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            for vid, v in vecs.items()
            if vid != qid
        }
        return [
            v
            for v, _ in sorted(
                sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0])
            )[:k]
        ]

    def run(mode, n_probe):
        r = ivf_topk(
            emb, id_col="vec_id", vec_col="embedding", query_ids=qids,
            k=5, n_centroids=8, n_probe=n_probe, centroids=mode,
        )
        got = {}
        for row in r.collect():
            got.setdefault(row.query_id, []).append(row.id_b)
        return got

    got = run("kmeans", 4)
    assert set(got) == set(qids) and all(len(v) == 5 for v in got.values())
    for qid in qids:
        # probing half the cells: every hit must sit in the true top-25
        assert set(got[qid]) <= set(true_top(qid, 25))

    def recall(got):
        return np.mean(
            [len(set(got.get(q, [])) & set(true_top(q, 5))) / 5 for q in qids]
        )

    got_sample = run("sample", 2)
    got_kmeans = run("kmeans", 2)
    assert recall(got_kmeans) > recall(got_sample), (
        recall(got_kmeans), recall(got_sample),
    )


def test_multimodal_resize_and_frames(spark):
    from multiomix_aws_emr_spark.operators.multimodal import (
        resize_media,
        sample_frames,
    )

    d = _docs(spark)
    media = attach_binary_payload(d, id_col="doc_id", text_col="text")
    sizes = {r.doc_id: r.meta.n_bytes for r in media.collect()}

    rs = resize_media(media)
    assert rs.schema["payload_resized"].dataType.typeName() == "binary"
    for r in rs.collect():
        assert r.n_bytes_resized == min(sizes[r.doc_id], 256)
        assert len(bytes(r.payload_resized)) == r.n_bytes_resized

    fr = sample_frames(media, stride=2)
    rows = fr.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc_id, idxs in by_doc.items():
        n_frames = max(1, sizes[doc_id] // 64)
        assert sorted(idxs) == list(range(0, n_frames, 2))


def test_salted_join_matches_plain_join(spark):
    from multiomix_aws_emr_spark.operators.skew import salted_join

    rng = np.random.RandomState(7)
    # skewed probe: 90% of rows share key 0
    keys = np.where(rng.rand(2000) < 0.9, 0, rng.randint(1, 20, 2000))
    probe = spark.createDataFrame(
        pd.DataFrame({"k": keys, "v": np.arange(2000)})
    )
    build = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(20), "name": [f"n{i}" for i in range(20)]})
    )
    for how in ("inner", "left"):
        got = sorted(
            map(tuple, salted_join(probe, build, "k", n_salts=4, how=how)
                .select("k", "v", "name").collect())
        )
        exp = sorted(
            map(tuple, probe.join(build, "k", how).select("k", "v", "name").collect())
        )
        assert got == exp


def test_sinks_roundtrip(spark, tmp_path):
    from multiomix_aws_emr_spark.sources.sinks import (
        read_model_artifact,
        write_json,
        write_model_artifact,
        write_parquet,
    )

    df = spark.createDataFrame(
        [(0, "a", 1.5), (1, "b", 2.5), (2, "a", 3.5)], "id bigint, g string, x double"
    )
    write_json(df, str(tmp_path / "j"))
    assert spark.read.json(str(tmp_path / "j")).count() == 3

    write_parquet(df, str(tmp_path / "p"), partition_by=["g"])
    back = spark.read.parquet(str(tmp_path / "p"))
    assert sorted(r.id for r in back.filter(F.col("g") == "a").collect()) == [0, 2]
    # partition pruning reaches the scan
    plan = back.filter(F.col("g") == "a")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    path = write_model_artifact({"weights": [1, 2, 3]}, str(tmp_path / "m"))
    assert read_model_artifact(path) == {"weights": [1, 2, 3]}


def test_approx_quantiles_within_error_bound(spark, sf_dir):
    from multiomix_aws_emr_spark.queries.registry import QUERIES

    got = {
        r.o_orderstatus: r
        for r in QUERIES["agg_approx_quantiles"](spark, sf_dir).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("p")
    )
    for r in exact.collect():
        g = got[r.o_orderstatus]
        # the query's own tolerance booleans must hold, and its exact
        # columns must agree with an independently recomputed percentile
        assert g.ok50 and g.ok90 and g.ok99
        for want, col in zip(r.p, ("p50_exact", "p90_exact", "p99_exact")):
            assert abs(g[col] - want) <= 1e-4 * max(1.0, abs(want))


def test_connected_components_closes_chains(spark):
    from multiomix_aws_emr_spark.operators.components import connected_components

    # chain 1-2, 2-3, 3-4 plus separate 10-11 and singleton self-loop 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src bigint, dst bigint"
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_minhash_plus_components_transitive(spark):
    from multiomix_aws_emr_spark.operators.components import connected_components

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    mid = base.replace("gamma", "GAMMA").replace("eta", "ETA")
    far = mid.replace("alpha", "ALPHA").replace("iota", "IOTA")
    rows = [
        (0, base),
        (1, mid),    # near dup of 0
        (2, far),    # near dup of 1, farther from 0
        (3, "unrelated totally different content here about engines"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    one_step = minhash_lsh_clusters(d, text_col="text", id_col="doc_id")
    cc = connected_components(one_step, src="doc_id", dst="rep_id")
    comp = {r.node: r.component for r in cc.collect()}
    # whatever the one-step pairs were, the closure must be transitive:
    # docs sharing any chain end in the same component
    if comp[1] == comp[0] and comp[2] == comp[1]:
        assert comp[2] == comp[0]
    assert comp[3] == 3  # unrelated stays alone


def test_mlkmeans_invariants(spark, sf_dir):
    """The declared query's invariant-grid contract: full 0..7 cluster
    grid, every cluster nonempty, summed sizes conserve the corpus count,
    and the WSS<=TSS dispersion bound holds; the seeded fit is
    deterministic on fixed data."""
    from multiomix_aws_emr_spark.queries import QUERIES

    rows = sorted(
        QUERIES["ml_kmeans_embeddings"](spark, sf_dir).collect(),
        key=lambda r: r.prediction,
    )
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert [r.prediction for r in rows] == list(range(8))
    assert all(r.nonempty for r in rows)
    assert {r.n_vecs_total for r in rows} == {total}
    assert all(r.wss_le_tss for r in rows)
    again = sorted(
        QUERIES["ml_kmeans_embeddings"](spark, sf_dir).collect(),
        key=lambda r: r.prediction,
    )
    assert rows == again  # seeded fit on fixed data is deterministic


def test_mlkmeans_leaves_no_cache_entry(spark, sf_dir):
    """A run adds no CacheManager entry: the 8-row per-cluster aggregate
    is read back from its collected rows, and the persisted vectorized
    corpus is keyed on its plan, so every build shares one entry."""
    from multiomix_aws_emr_spark.queries import QUERIES

    cache = spark._jsparkSession.sharedState().cacheManager()
    QUERIES["ml_kmeans_embeddings"](spark, sf_dir).collect()
    before = cache.numCachedEntries()
    QUERIES["ml_kmeans_embeddings"](spark, sf_dir).collect()
    assert cache.numCachedEntries() == before


def test_temporal_join_matches_pandas_reference(spark):
    """Randomized differential test: the union+window temporal join must
    agree with pandas merge_asof (backward, inclusive) on every key."""
    from multiomix_aws_emr_spark.operators.asof import temporal_join

    rng = np.random.RandomState(11)
    n_dim, n_fact = 120, 300
    dim = pd.DataFrame(
        {
            "k": rng.randint(0, 6, n_dim),
            "t": rng.choice(np.arange(0, 5000, 7), n_dim, replace=False),
        }
    )
    dim["ver"] = [f"v{i}" for i in range(n_dim)]
    fact = pd.DataFrame(
        {
            "fid": np.arange(n_fact),
            "k": rng.randint(0, 6, n_fact),
            "t": rng.randint(0, 5200, n_fact),
        }
    )
    got = {
        r.fid: r.ver
        for r in temporal_join(
            spark.createDataFrame(fact),
            spark.createDataFrame(dim),
            key_cols=["k"],
            time_col="t",
            payload_cols=["ver"],
            how="left",
        ).collect()
    }
    expected = {}
    for k, g in fact.groupby("k"):
        d = dim[dim.k == k].sort_values("t")
        m = pd.merge_asof(
            g.sort_values("t"), d[["t", "ver"]], on="t", direction="backward"
        )
        for fid, ver in zip(m.fid, m.ver):
            expected[fid] = None if pd.isna(ver) else ver
    assert got == expected


def test_zvalue_is_bijective_and_bounded(spark):
    """Morton interleave: distinct (a, b) -> distinct z, and z stays
    within 2*bits bits."""
    from multiomix_aws_emr_spark.operators.zorder import zvalue

    rng = np.random.RandomState(5)
    pts = {(int(a), int(b)) for a, b in rng.randint(0, 1 << 16, (500, 2))}
    df = spark.createDataFrame(
        [(a, b) for a, b in sorted(pts)], "a long, b long"
    )
    out = df.select("a", "b", zvalue(["a", "b"], bits=16).alias("z")).collect()
    zs = [r.z for r in out]
    assert len(set(zs)) == len(pts)  # injective
    assert all(0 <= z < (1 << 32) for z in zs)
    # de-interleave round-trip
    for r in out:
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r.a, r.b)


def test_recall_self_report(spark, sf_dir):
    """with_recall_at_k: exact_topk's recall vs itself is 1.0 by
    construction, and the recall attached to the LSH tier equals the
    recomputed |approx ∩ exact| / k."""
    from multiomix_aws_emr_spark.operators.similarity import (
        ann_lsh_topk,
        exact_topk,
        with_recall_at_k,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = exact_topk(emb, id_col="vec_id", vec_col="embedding", query_ids=[0], k=5)
    self_rec = with_recall_at_k(exact, exact, 5)
    assert {r.recall_at_k for r in self_rec.collect()} == {1.0}

    approx = ann_lsh_topk(
        emb, id_col="vec_id", vec_col="embedding", query_ids=[0], k=5,
        n_planes=4, probe_hamming=2,
    )
    rows = with_recall_at_k(approx, exact, 5).collect()
    assert rows, "ann operator returned nothing"
    reported = {r.recall_at_k for r in rows}
    assert len(reported) == 1  # constant per query
    got_ids = {r.id_b for r in rows}
    true_ids = {r.id_b for r in exact.collect()}
    assert reported == {round(len(got_ids & true_ids) / 5, 4)}
    assert 0.0 <= next(iter(reported)) <= 1.0


def test_ann_query_contract_exact_rows_plus_recall_ok(spark, sf_dir):
    """The declared ANN queries emit the EXACT top-k rows plus a
    recall_ok bound boolean (the oracle-checkable contract): rows must
    equal exact_topk's and recall_ok must be True at the declared probe
    configs on every fixture SF."""
    from multiomix_aws_emr_spark.operators.similarity import exact_topk
    from multiomix_aws_emr_spark.queries import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for qid, qids in (("similarity_ann_lsh", [0]), ("similarity_ivf", [0, 1])):
        rows = QUERIES[qid](spark, sf_dir).collect()
        assert all(r.recall_ok for r in rows), qid
        exact = {
            (r.query_id, r.id_b, r.cos_sim, r.rn)
            for r in exact_topk(
                emb, id_col="vec_id", vec_col="embedding", query_ids=qids, k=5
            ).collect()
        }
        got = {(r.query_id, r.id_b, r.cos_sim, r.rn) for r in rows}
        assert got == exact, qid


def test_hash_group_centroids_wide_agg_parity_and_guard(spark):
    """The opt-in wide_agg strategy must agree with the explode default
    on a rectangular column (same per-(group, dim) AVG multisets), and
    its one-row dim inference must refuse empty/degenerate input with a
    sign-explicit guard (ADVICE r13: a truthiness check would let legacy
    sizeOfNull's -1 through and emit an empty aggregate list)."""
    import pytest

    from multiomix_aws_emr_spark.operators.similarity import (
        hash_group_centroids,
    )

    rows = [
        (i, [float(i), float(i % 3), 1.0 + i * 0.25, -0.5 * i])
        for i in range(48)
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    a = {
        r.list_id: r.cent
        for r in hash_group_centroids(
            df, id_col="vec_id", vec_col="emb", n_lists=4
        ).collect()
    }
    b = {
        r.list_id: r.cent
        for r in hash_group_centroids(
            df, id_col="vec_id", vec_col="emb", n_lists=4, wide_agg=True
        ).collect()
    }
    assert set(a) == set(b) == {0, 1, 2, 3}
    for lid in a:
        assert a[lid] == pytest.approx(b[lid], abs=1e-12)

    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match="rectangular"):
        hash_group_centroids(
            empty, id_col="vec_id", vec_col="emb", n_lists=4, wide_agg=True
        )
