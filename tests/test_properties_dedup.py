"""Property-based tests for the MinHash+LSH operator (SURVEY.md §5.2.5).

Near-dup recall is probabilistic by design, but one guarantee is exact
and family-independent: documents with IDENTICAL text have identical
shingle sets, hence identical signatures, hence identical band buckets —
LSH can never split exact duplicates, for any number of hashes or bands,
in either hash family (xxhash64 or the portable md5 family). Hypothesis
builds corpora where every text appears at least twice and asserts the
guarantee plus the cluster-shape invariants (rep is a real doc id, never
exceeds its member, assignment is total)."""

import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multiomix_aws_emr_spark.operators.dedup import minhash_lsh_clusters

_settings = settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_VOCAB = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
_texts = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=3, max_size=6).map(" ".join),
    min_size=1,
    max_size=5,
)


@pytest.mark.parametrize("portable", [False, True])
@_settings
@given(texts=_texts)
def test_exact_duplicates_never_split(spark, texts, portable):
    # every text appears twice under different doc ids
    rows = [(2 * i, t) for i, t in enumerate(texts)] + [
        (2 * i + 1, t) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = {
        r.doc_id: r.rep_id
        for r in minhash_lsh_clusters(
            df,
            id_col="doc_id",
            text_col="text",
            num_hashes=8,
            bands=2,
            shingle_words=2,
            portable=portable,
        ).collect()
    }
    ids = {i for i, _ in rows}
    # total assignment with sane reps
    assert set(clusters) == ids
    assert all(rep in ids and rep <= i for i, rep in clusters.items())
    # the hard guarantee: identical text => identical cluster
    by_text: dict[str, set] = {}
    for i, t in rows:
        by_text.setdefault(t, set()).add(clusters[i])
    for t, reps in by_text.items():
        assert len(reps) == 1, f"exact duplicates split for {t!r}: {reps}"


@given(
    data=st.data(),
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_substring_spans_match_python_reference(spark, data):
    """dedup_substring_spans' full pipeline vs a direct Python
    recompute on Hypothesis-generated corpora (tiny vocab forces heavy
    cross-doc gram collisions; duplicated docs guarantee spans):
    identical (doc, start, end, n_grams) sets, and cut_spans applied to
    the result removes exactly the covered positions."""
    from multiomix_aws_emr_spark.operators.dedup import cut_spans
    from multiomix_aws_emr_spark.queries import QUERIES
    import multiomix_aws_emr_spark.queries.textops as textops

    vocab = ("a", "b", "c")
    texts = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=5, max_size=12).map(
                " ".join
            ),
            min_size=2,
            max_size=6,
        )
    )
    texts = texts + texts[:1]  # ensure at least one exact dup pair
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # Python reference (k=5, overlap-or-touch merge)
    k = 5
    grams: dict = {}
    for i, t in rows:
        ws = t.split(" ")
        for p in range(len(ws) - k + 1):
            grams.setdefault(" ".join(ws[p : p + k]), set()).add(i)
    dup = {g for g, ds in grams.items() if len(ds) >= 2}
    want = set()
    for i, t in rows:
        ws = t.split(" ")
        occ = sorted(
            p + 1
            for p in range(len(ws) - k + 1)
            if " ".join(ws[p : p + k]) in dup
        )
        spans: list = []
        for s in occ:
            e = s + k - 1
            if spans and s <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
                spans[-1][2] += 1
            else:
                spans.append([s, e, 1])
        want |= {(i, s, e, n) for s, e, n in spans}

    # run the declared pipeline body against this frame by monkey-shim:
    # the query loads from parquet, so exercise the same operators via a
    # temp dir write
    import tempfile

    d = tempfile.mkdtemp(prefix="prop_substr_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got_rows = QUERIES["dedup_substring_spans"](spark, d).collect()
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams) for r in got_rows
    }
    assert got == want

    spans_df = spark.createDataFrame(
        [(i, s, e) for i, s, e, _ in want],
        "doc_id long, span_start long, span_end long",
    )
    cleaned = {
        r.doc_id: r.text for r in cut_spans(docs, spans_df).collect()
    }
    for i, t in rows:
        ws = t.split(" ")
        ivs = [(s, e) for d_, s, e, _ in want if d_ == i]
        expect = " ".join(
            w
            for p, w in enumerate(ws, start=1)
            if not any(s <= p <= e for s, e in ivs)
        )
        assert cleaned[i] == expect


@given(data=st.data())
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ngram_contamination_matches_python_reference(spark, data):
    """ngram_contamination vs a direct Python recompute on Hypothesis
    corpora (tiny vocab + duplicated docs force real gram collisions
    between the train/eval split): identical per-doc (n_grams,
    n_hit_grams, contaminated) maps, short docs excluded, eval docs
    never in the output."""
    from multiomix_aws_emr_spark.operators.dedup import ngram_contamination

    k = data.draw(st.integers(min_value=2, max_value=3), label="k")
    texts = data.draw(
        st.lists(
            st.lists(
                st.sampled_from(_VOCAB[:3]), min_size=1, max_size=7
            ).map(" ".join),
            min_size=2,
            max_size=6,
        ),
        label="texts",
    )
    rows = [(2 * i, t) for i, t in enumerate(texts)] + [
        (2 * i + 1, t) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    is_eval = lambda i: i % 3 == 0  # noqa: E731
    got = {
        r.doc_id: (
            r.n_grams,
            r.n_hit_grams,
            r.hit_positions,
            r.contaminated,
        )
        for r in ngram_contamination(
            df.filter(f"doc_id % 3 <> 0"),
            df.filter("doc_id % 3 = 0"),
            id_col="doc_id",
            text_col="text",
            k=k,
        ).collect()
    }

    def grams(t):
        w = [x for x in t.split(" ") if x]
        return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]

    ev = {g for i, t in rows if is_eval(i) for g in grams(t)}
    want = {}
    for i, t in rows:
        if is_eval(i) or len([x for x in t.split(" ") if x]) < k:
            continue
        gs = grams(t)
        hits = {g for g in gs if g in ev}
        # hit_positions counts OCCURRENCES (a repeated leaked gram
        # scores every position), n_hit_grams counts distinct
        want[i] = (
            len(gs),
            len(hits),
            sum(1 for g in gs if g in ev),
            bool(hits),
        )
    assert got == want


@given(data=st.data())
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_contamination_spans_and_cut_match_python_reference(spark, data):
    """contamination_spans vs a direct Python recompute (hit-gram
    intervals extended by the dirty window, clamped, merged), and
    cut_spans applied to the result removes exactly the covered words —
    the full GPT-3 surgical-decontamination composition."""
    from multiomix_aws_emr_spark.operators.dedup import (
        contamination_spans,
        cut_spans,
    )

    k = data.draw(st.integers(min_value=2, max_value=3), label="k")
    window = data.draw(st.integers(min_value=0, max_value=2), label="window")
    texts = data.draw(
        st.lists(
            st.lists(
                st.sampled_from(_VOCAB[:3]), min_size=1, max_size=8
            ).map(" ".join),
            min_size=2,
            max_size=6,
        ),
        label="texts",
    )
    rows = [(2 * i, t) for i, t in enumerate(texts)] + [
        (2 * i + 1, t) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train = df.filter("doc_id % 3 <> 0")
    evalset = df.filter("doc_id % 3 = 0")
    spans_df = contamination_spans(
        train, evalset, id_col="doc_id", text_col="text", k=k, window=window
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in spans_df.collect()
    }

    def wordlist(t):
        return [x for x in t.split(" ") if x]

    def grams(t):
        w = wordlist(t)
        return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]

    ev = {g for i, t in rows if i % 3 == 0 for g in grams(t)}
    want = set()
    covered = {}  # doc_id -> set of covered 1-based positions
    for i, t in rows:
        if i % 3 == 0:
            continue
        w = wordlist(t)
        ivs = [
            (max(1, p + 1 - window), min(len(w), p + k + window))
            for p, g in enumerate(grams(t))
            if g in ev
        ]
        if not ivs:
            continue
        ivs.sort()
        merged = [[ivs[0][0], ivs[0][1], 1]]
        for s, e in ivs[1:]:
            if s <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        for s, e, n in merged:
            want.add((i, s, e, n))
        covered[i] = {p for s, e, _ in merged for p in range(s, e + 1)}
    assert got == want

    # the composition: cutting the spans removes exactly the covered words
    cleaned = {
        r.doc_id: r.text
        for r in cut_spans(
            train, spans_df, id_col="doc_id", text_col="text"
        ).collect()
    }
    for i, t in rows:
        if i % 3 == 0:
            continue
        w = wordlist(t)
        keep = [
            x for p, x in enumerate(w, start=1)
            if p not in covered.get(i, set())
        ]
        if i in covered:
            assert cleaned[i] == " ".join(keep), (i, cleaned[i], keep)
        else:
            assert cleaned[i] == t  # byte-identical passthrough


def test_ngram_contamination_replication_linearity(spark, sf_dir):
    """The decontam probe's volume witness at test scale: replicating
    the TRAIN side text-unchanged (doc_id-shifted) against a FIXED eval
    split scales contaminated docs and hit positions EXACTLY linearly —
    every copy of a contaminated doc collides identically — while the
    eval inventory is untouched. Pins the invariant the 1000x probe
    measured (BASELINE.md, "Decontamination scale probe")."""
    from multiomix_aws_emr_spark.operators.dedup import ngram_contamination

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    evalset = d.filter("doc_id % 20 = 0")
    train = d.filter("doc_id % 20 <> 0")

    def totals(t):
        r = (
            ngram_contamination(
                t, evalset, id_col="doc_id", text_col="text", k=8
            )
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.col("contaminated").cast("long")).alias("contam"),
                F.sum("hit_positions").alias("hits"),
            )
            .collect()[0]
        )
        return r.docs, r.contam, r.hits

    base = totals(train)
    r = 3
    train3 = train.selectExpr(
        f"explode(sequence(0, {r - 1})) AS k", "doc_id", "text"
    ).selectExpr(f"doc_id * {r} + k AS doc_id", "text")
    assert totals(train3) == tuple(v * r for v in base)
    assert base[1] > 0  # the fixture really contains collisions


def test_ngram_contamination_empty_eval_inventory(spark):
    """Edge: an eval split with NO scorable grams (all docs shorter than
    k) yields an empty broadcast inventory — every training doc must
    come back uncontaminated with zero hits, and contamination_spans
    must return no spans (so cut_spans passes everything through)."""
    from multiomix_aws_emr_spark.operators.dedup import (
        contamination_spans,
        ngram_contamination,
    )

    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string"
    )
    evalset = spark.createDataFrame(
        [(0, "a b")], "doc_id long, text string"
    )
    rows = ngram_contamination(
        train, evalset, id_col="doc_id", text_col="text", k=3
    ).collect()
    assert {r.doc_id: (r.n_hit_grams, r.hit_positions, r.contaminated)
            for r in rows} == {1: (0, 0, False), 2: (0, 0, False)}
    assert all(r.n_grams == 3 for r in rows)
    assert (
        contamination_spans(
            train, evalset, id_col="doc_id", text_col="text", k=3
        ).count()
        == 0
    )


@_settings
@given(data=st.data())
def test_substring_cut_fixpoint_postcondition_property(spark, data):
    """substring_cut_fixpoint's strict postcondition on Hypothesis
    corpora (3-letter vocab at k=3 forces heavy collisions AND
    cut-created adjacencies): the output has ZERO k-grams shared across
    distinct surviving documents, every doc id survives (possibly with
    empty text), and rounds are strictly monotone in total corpus
    length (termination witness)."""
    from multiomix_aws_emr_spark.operators.dedup import (
        gram_rows,
        substring_cut_fixpoint,
    )

    vocab = ("a", "b", "c")
    texts = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=10).map(
                " ".join
            ),
            min_size=2,
            max_size=5,
        )
    )
    texts = texts + texts[:1]  # at least one exact dup pair
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cleaned, rounds = substring_cut_fixpoint(
        docs, id_col="doc_id", text_col="text", k=3, max_rounds=12
    )
    out = {r.doc_id: r.text for r in cleaned.collect()}
    assert set(out) == {i for i, _ in rows}  # no doc dropped
    # strict postcondition: no k-gram occurs in >= 2 distinct docs
    shared = (
        gram_rows(cleaned, id_col="doc_id", text_col="text", k=3)
        .groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter("nd >= 2")
        .count()
    )
    assert shared == 0, out
    # every cutting round removed at least one span from some doc
    assert all(r["spans"] >= 1 and r["docs_cut"] >= 1 for r in rounds)
    assert len(rounds) < 12  # converged, not capped


@_settings
@given(data=st.data())
def test_decontaminate_cut_fixpoint_postcondition_property(spark, data):
    """decontaminate_cut_fixpoint's strict postcondition on Hypothesis
    corpora: NO surviving training doc shares any k-gram with the eval
    set — including grams spliced into existence by earlier cuts — and
    eval-clean training docs pass through byte-identical."""
    from multiomix_aws_emr_spark.operators.dedup import (
        decontaminate_cut_fixpoint,
        gram_rows,
    )

    vocab = ("a", "b", "c")
    mk = st.lists(st.sampled_from(vocab), min_size=3, max_size=10).map(
        " ".join
    )
    ev_texts = data.draw(st.lists(mk, min_size=1, max_size=3))
    tr_texts = data.draw(st.lists(mk, min_size=2, max_size=5))
    # guarantee at least one contaminated training doc
    tr_texts = tr_texts + [ev_texts[0]]
    evalset = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(ev_texts)],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tr_texts)],
        "doc_id long, text string",
    )

    cleaned, rounds = decontaminate_cut_fixpoint(
        train, evalset, id_col="doc_id", text_col="text", k=3,
        max_rounds=12,
    )
    out = {r.doc_id: r.text for r in cleaned.collect()}
    assert set(out) == set(range(len(tr_texts)))
    ev_grams = (
        gram_rows(evalset, id_col="doc_id", text_col="text", k=3)
        .select("gram")
        .distinct()
    )
    leaked = (
        gram_rows(cleaned, id_col="doc_id", text_col="text", k=3)
        .join(ev_grams, "gram", "left_semi")
        .count()
    )
    assert leaked == 0, out
    assert len(rounds) < 12
    # clean docs pass through byte-identical: recompute which originals
    # never matched an eval gram at ANY round — sufficient check: docs
    # whose final text equals their original must be the ones never cut
    ev_set = set()
    for t in ev_texts:
        ws = t.split(" ")
        ev_set |= {
            " ".join(ws[p : p + 3]) for p in range(len(ws) - 2)
        }
    for i, t in enumerate(tr_texts):
        ws = t.split(" ")
        dirty = any(
            " ".join(ws[p : p + 3]) in ev_set for p in range(len(ws) - 2)
        )
        if not dirty and out[i] != t:
            # cut without an ORIGINAL eval hit can only happen if an
            # earlier round's cut spliced a hit into this doc — but
            # round 1 cuts only originally-dirty docs, so a clean doc
            # can never be touched (its text never changes between
            # rounds, and collision detection is per-doc)
            raise AssertionError((i, t, out[i]))
