"""tools/scale_probe.py synthesizer invariants: the 10x/100x scale
evidence in BASELINE.md is only as good as the synthetic corpora, so pin
what each tier's transform promises (see the module docstring there).

documents — row multiplication, per-copy word-multiset preservation
(token-level stats match the source), copy-distinct shingle sets, and
determinism.  relational — consistent key-shifting (every join's fan-out
preserved exactly, group sizes preserved per copy).  events — each user
copy replays the identical event sequence.  embeddings — the per-copy
sign flip is orthogonal: within-copy cosines and norms are preserved.
survival — seeded inputs are stable and the BBHA job reports its phases.
"""

import math
import os
import sys
from collections import Counter

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)


@pytest.fixture(scope="module")
def synth(spark, sf_dir, tmp_path_factory):
    from tools.scale_probe import synthesize

    out = str(tmp_path_factory.mktemp("probe"))
    synthesize(spark, "documents", sf_dir, out, replicas=2)
    return out


def test_synthesize_row_multiplication_and_id_disjointness(spark, sf_dir, synth):
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = spark.read.parquet(f"{synth}/documents.parquet")
    assert big.count() == 2 * src.count()
    assert big.select("doc_id").distinct().count() == big.count()


def test_synthesize_preserves_word_multiset_per_copy(spark, sf_dir, synth):
    src = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(20)
        .collect()
    }
    big = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{synth}/documents.parquet").collect()
    }
    for doc_id, text in src.items():
        for k in (0, 1):
            copy = big[doc_id * 2 + k]
            assert Counter(copy.split(" ")) == Counter(text.split(" ")), (
                doc_id,
                k,
            )


def test_synthesize_copies_are_shingle_distinct(spark, sf_dir, synth):
    """Copies of one doc must NOT share word order (their shingle sets
    diverge), otherwise the duplicate-pair count would grow quadratically
    in the replication factor and poison the linearity probe."""
    big = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{synth}/documents.parquet").collect()
    }
    differing = sum(
        1
        for doc_id in range(0, 40, 2)
        if doc_id + 1 in big
        and len(big[doc_id].split(" ")) > 3
        and big[doc_id] != big[doc_id + 1]
    )
    assert differing >= 15  # multi-word docs scramble differently per copy


def test_synthesize_deterministic(spark, sf_dir, synth, tmp_path):
    from tools.scale_probe import synthesize

    out2 = str(tmp_path / "probe2")
    synthesize(spark, "documents", sf_dir, out2, replicas=2)
    a = sorted(
        map(
            tuple,
            spark.read.parquet(f"{synth}/documents.parquet").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            spark.read.parquet(f"{out2}/documents.parquet").collect(),
        )
    )
    assert a == b


# --- relational tier -------------------------------------------------------


@pytest.fixture(scope="module")
def synth_rel(spark, sf_dir, tmp_path_factory):
    from tools.scale_probe import synthesize

    out = str(tmp_path_factory.mktemp("probe_rel"))
    synthesize(spark, "relational", sf_dir, out, replicas=2)
    return out


def test_relational_key_shift_preserves_join_fanout(spark, sf_dir, synth_rel):
    """orders |><| customer and lineitem |><| orders row counts must
    multiply EXACTLY by the replication factor: each copy is an
    independent shard of the economy, so every join's fan-out is
    preserved and key cardinality grows linearly — the TPC-H scaling
    model."""

    def joined(d):
        o = spark.read.parquet(f"{d}/orders.parquet")
        c = spark.read.parquet(f"{d}/customer.parquet")
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        oc = o.join(c, o.o_custkey == c.c_custkey).count()
        lo = li.join(o, li.l_orderkey == o.o_orderkey).count()
        return oc, lo

    oc1, lo1 = joined(sf_dir)
    oc2, lo2 = joined(synth_rel)
    assert (oc2, lo2) == (2 * oc1, 2 * lo1)


def test_relational_group_sizes_preserved(spark, sf_dir, synth_rel):
    """Fixed-cardinality group-bys (returnflag/linestatus) keep the SAME
    groups with exactly replicas x the rows per group."""
    src = {
        (r.l_returnflag, r.l_linestatus): r["count"]
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .count()
        .collect()
    }
    big = {
        (r.l_returnflag, r.l_linestatus): r["count"]
        for r in spark.read.parquet(f"{synth_rel}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .count()
        .collect()
    }
    assert big == {g: 2 * n for g, n in src.items()}


# --- events tier -----------------------------------------------------------


@pytest.fixture(scope="module")
def synth_ev(spark, sf_dir, tmp_path_factory):
    from tools.scale_probe import synthesize

    out = str(tmp_path_factory.mktemp("probe_ev"))
    synthesize(spark, "events", sf_dir, out, replicas=2)
    return out


def test_events_user_copies_replay_identical_sequences(spark, sf_dir, synth_ev):
    """Each user copy must carry the source user's exact (ts, event_type,
    value) sequence, so sessions/funnels/cohorts per user are preserved
    and only the user POPULATION grows."""
    src_users = [
        r.user_id
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .limit(5)
        .collect()
    ]
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    big = spark.read.parquet(f"{synth_ev}/events.parquet")
    assert big.count() == 2 * src.count()
    for u in src_users:
        want = sorted(
            (r.ts, r.event_type, r.value)
            for r in src.filter(src.user_id == u).collect()
        )
        for k in (0, 1):
            got = sorted(
                (r.ts, r.event_type, r.value)
                for r in big.filter(big.user_id == u * 2 + k).collect()
            )
            assert got == want, (u, k)


# --- embeddings tier -------------------------------------------------------


@pytest.fixture(scope="module")
def synth_emb(spark, sf_dir, tmp_path_factory):
    from tools.scale_probe import synthesize

    out = str(tmp_path_factory.mktemp("probe_emb"))
    synthesize(spark, "embeddings", sf_dir, out, replicas=2)
    return out


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_embeddings_sign_flip_is_orthogonal_within_copy(spark, sf_dir, synth_emb):
    """A per-copy sign flip preserves norms elementwise-absolutely and all
    within-copy cosines exactly (up to float roundoff); copies of one
    vector must NOT be identical (k=1 flips at least one sign)."""
    src = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter("vec_id < 10")
        .collect()
    }
    big = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{synth_emb}/embeddings.parquet")
        .filter("vec_id < 20")
        .collect()
    }
    for vid, emb in src.items():
        for k in (0, 1):
            copy = big[vid * 2 + k]
            assert [abs(x) for x in copy] == pytest.approx(
                [abs(x) for x in emb], abs=1e-6
            )
    # within-copy cosine preservation for a sample pair, both copies
    for k in (0, 1):
        want = _cos(src[0], src[1])
        got = _cos(big[0 * 2 + k], big[1 * 2 + k])
        assert got == pytest.approx(want, abs=1e-5), k
    # the two copies of vector 0 differ (copy 1 flips some signs)
    assert big[0] != big[1]


# --- skew probe ------------------------------------------------------------


def test_skew_probe_synthesis_and_strategy_agreement(spark, sf_dir, tmp_path):
    """tools/skew_probe.py at toy scale: the deterministic redirect sends
    ~30% of probe rows to ONE hot key that exists in the build side, and
    all three join strategies return identical counts (revenue to float
    tolerance)."""
    import tools.skew_probe as sp

    out_root = str(tmp_path / "skewroot")
    probe_path, build_path, hot_key = sp.synthesize_skewed(
        spark, sf_dir, out_root, replicas=2, hot_hex="4d"
    )
    probe = spark.read.parquet(probe_path)
    n = probe.count()
    n_hot = probe.filter(f"l_orderkey = {hot_key}").count()
    assert 0.25 < n_hot / n < 0.35
    build_keys = {
        r.o_orderkey for r in spark.read.parquet(build_path).collect()
    }
    assert hot_key in build_keys

    answers = {}
    for name in ("smj_skew_off", "smj_skew_on", "salted_32"):
        _, answers[name] = sp.run_strategy(spark, name, probe_path, build_path)
    (n0, rev0) = answers["smj_skew_off"]
    assert all(
        nn == n0 and abs(rev - rev0) <= 1e-6 * abs(rev0)
        for nn, rev in answers.values()
    )
    assert n0 > 0


def test_core_scaling_speedup_summary_flags_flat_queries():
    from tools.core_scaling_probe import speedup_summary

    results = {
        4: {"a": 8.0, "b": 4.0, "c": 0.0, "d": 0.6},
        32: {"a": 2.0, "b": 3.9, "c": 0.0, "d": 0.5},
    }
    speedup, flat = speedup_summary(results, ("a", "b", "c", "d"), 2.0)
    assert speedup["a"] == 4.0
    # b is flat (1.03x) at a wall worth parallelizing -> flagged; c pins
    # the zero-wall division clamp but sits under the 2 s floor, and d is
    # a flat sub-second shape -> both exempt (fixed overhead, not serial
    # bottleneck)
    assert flat == ["b"]


# --- survival tier ---------------------------------------------------------


def test_survival_tier_smoke(spark, tmp_path):
    """The survival tier at smoke size: seeded inputs are byte-stable, and
    one ``run_experiment --model svm`` reports its phases — an ingest and
    a sink with no Spark job and one evaluation job per BBHA iteration."""
    from tools.scale_probe import probe_survival, write_survival_tsvs

    a = write_survival_tsvs(str(tmp_path / "a"), 3, 40, 30)
    b = write_survival_tsvs(str(tmp_path / "b"), 3, 40, 30)
    for pa, pb in zip(a, b):
        assert open(pa).read() == open(pb).read()

    [rec] = probe_survival(
        spark, str(tmp_path), shapes=((40, 30),), n_stars=3, n_iterations=2
    )
    assert rec["shape"] == "40x30"
    assert rec["eval_jobs"] == 2
    assert rec["ingest_jobs"] == 0
    assert rec["sink_jobs"] == 0
    assert rec["evals"] == 3 * 2 + 1  # plus the all-features baseline
    assert 0.0 <= rec["best_metric"] <= 1.0
    assert rec["search_s"] <= rec["wall_s"]
    # the phases run inside the wall; each figure is rounded to 10 ms
    phases = rec["ingest_s"] + rec["search_s"] + rec["sink_s"]
    assert phases <= rec["wall_s"] + 0.02
