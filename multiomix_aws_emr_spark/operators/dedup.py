"""Near-duplicate detection: MinHash + LSH banding, fully in JVM expressions.

The classic pipeline (Broder '97 resemblance sketches; banding analysis in
Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3):

  word shingles -> K seeded min-hashes -> B bands of R rows ->
  band-bucket join -> candidate clusters

Everything is built-ins (``xxhash64`` is Spark's JVM 64-bit hash; seeding
is done by prefixing the hash input with the hash index), so the sketch
computation stays inside whole-stage codegen, and the only shuffles are
hash aggregations on compact keys. No cross join at any point: candidate
generation is a groupBy on (band, bucket), which is the property that
makes this the 100 TB dedup path.

Shingles are produced as ROWS (``posexplode(split)`` + window ``lead``),
not as array higher-order functions: exploding a lambda-built array forces
a fresh Janino compile of the Generate fragment on every execution
(measured ~1.7s/run of pure driver compile), while the row formulation is
plain cached codegen. The single shuffle is clustered on the doc id, which
simultaneously parallelizes narrow single-file scans and co-locates the
per-doc shingle dedup + min-hash aggregation (hash(doc_id) satisfies the
clustered distribution of both).

Output is one step of cluster merging (doc -> min doc_id sharing any
bucket), not full transitive closure; iterate to a fixpoint for full
connected components (documented trade-off — at corpus scale one banding
pass is the standard candidate generator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def shingle_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) rows: distinct word n-grams of a text column.

    Documents shorter than ``shingle_words`` tokens contribute their full
    token string as a single shingle; documents with no tokens contribute
    nothing.

    ``distinct=False`` skips the per-doc dedup aggregate and may emit a
    shingle more than once per document — for duplicate-insensitive
    consumers (a MIN aggregate over hashes sees the same value set either
    way), it removes one HashAggregate from the plan (r15).
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    # Explicit partition count: AQE would coalesce a bare
    # repartition(key) to one partition on small inputs, serializing the
    # token pipeline; hash(doc_id) at the cluster's parallelism holds at
    # any scale (window + dedup below reuse the same distribution).
    n_parts = max(
        df.sparkSession.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions(),
    )
    tok = (
        df.repartition(n_parts, id_col)
        .select(id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"))
        .filter(F.col("tok") != "")
    )
    # ONE window pass produces everything: the n-gram continuation tokens
    # (lead) and the in-doc row number share the same window spec, so
    # WindowExec evaluates them together. concat_ws skips NULLs, which
    # makes the short-doc case free: at row 1 of a doc with fewer than
    # ``shingle_words`` tokens the trailing leads are NULL and the concat
    # is exactly the doc's full token string — no count window, no
    # collect_list, no union branch.
    leads = [F.lead("tok", j).over(w) for j in range(1, shingle_words)]
    last = leads[-1] if leads else F.col("tok")
    out = (
        tok.select(
            id_col,
            F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
            F.row_number().over(w).alias("_rn"),
            last.alias("_last"),
        )
        .filter(F.col("_last").isNotNull() | (F.col("_rn") == 1))
        .select(id_col, "shingle")
    )
    # doc_id partitioning satisfies the (id, shingle) clustered
    # distribution, so this dedup aggregates without a new shuffle
    return out.dropDuplicates([id_col, "shingle"]) if distinct else out


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_words: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, h0..h{K-1}) MinHash signature table.

    One shingle-row pipeline + one hash aggregate; the shuffle key is the
    doc id throughout. ``portable=True`` swaps xxhash64 for the
    cross-engine md5-derived family (functions/porthash.py): ONE md5 per
    shingle expands to all K hashes by Kirsch-Mitzenmacher double hashing
    ``h_i = a + i*b`` — same md5 cost as a single seeded hash, and a
    DuckDB oracle recomputes the exact signatures.
    """
    from multiomix_aws_emr_spark.functions.porthash import phash_pair

    # distinct=False: MIN over the hash family is duplicate-insensitive,
    # so the per-doc shingle dedup aggregate buys nothing here (r15 —
    # one fewer HashAggregate; same exchange, same values). A row-local
    # array_min(transform(...)) formulation was A/B'd r15 and REJECTED:
    # higher-order functions are CodegenFallback, and the interpreted
    # md5/conv per element measured 2.4 s vs 0.8-1.2 s warm for this
    # rows+codegen shape on the sf0.1 sketch build.
    sh = shingle_rows(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_words=shingle_words,
        distinct=False,
    )
    if portable:
        a, b = phash_pair("shingle")
        pre = sh.select(id_col, a.alias("_a"), b.alias("_b"))
        mins = [
            F.min(F.col("_a") + i * F.col("_b")).alias(f"h{i}")
            for i in range(num_hashes)
        ]
        return pre.groupBy(id_col).agg(*mins)
    else:
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*mins)


def banded_buckets(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, band, bucket) LSH candidate rows — the per-document sketch.

    Every column is a function of the document's OWN text (signatures
    are mins over the doc's own shingles; buckets hash the doc's own
    signature), so the sketch for a document is identical whether
    computed over the full corpus or any subset containing it. That
    per-doc property is what makes this sub-plan shareable: compute it
    once over the corpus, then restrict by semi-join for any filtered
    pipeline (plans/sketchcache.py) — at warehouse scale the same move
    is materializing the sketch as its own table and reusing it across
    every pipeline variant that deduplicates.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands

    sig = minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_words=shingle_words,
        portable=portable,
    )

    def _bucket(b: int):
        hs = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            return F.md5(F.concat_ws("|", *hs))
        return F.xxhash64(*hs)

    band_cols = [
        F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
        for b in range(bands)
    ]
    return sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_cluster_assign(banded: DataFrame, *, id_col: str) -> DataFrame:
    """(id, rep_id) one-step cluster assignment over a banded sketch:
    rep_id = smallest id sharing any band bucket (itself when unique).
    The rep choice depends on which ids are PRESENT in ``banded``, so
    subset restriction must happen before this call."""
    reps = banded.groupBy("band", "bucket").agg(F.min(id_col).alias("_rep"))
    return (
        banded.join(reps, ["band", "bucket"])
        .groupBy(id_col)
        .agg(F.min("_rep").alias("rep_id"))
    )


def band_index(banded: DataFrame, *, id_col: str) -> DataFrame:
    """Reduce a banded sketch to its persistable index form:
    ``(band, bucket, rep)`` with ``rep`` = the smallest id ever seen in
    that bucket. One row per occupied bucket — orders of magnitude
    smaller than the corpus (and than the full banded sketch), which is
    what makes it the CROSS-RUN dedup artifact: a rolling 100 TB corpus
    persists this table once and each new ingest batch joins against it
    instead of re-shingling history (:func:`incremental_assign`)."""
    return banded.groupBy("band", "bucket").agg(F.min(id_col).alias("rep"))


def incremental_assign(
    new_banded: DataFrame,
    index: DataFrame,
    *,
    id_col: str,
    skew_safe: bool = False,
) -> DataFrame:
    """(id, rep_id) one-step assignment of a NEW batch against a persisted
    band index — exactly what :func:`lsh_cluster_assign` over old∪new
    would emit for the new ids, computed WITHOUT touching the old corpus:

    - ``new_banded``: the new batch's banded sketch (re-shingling only
      the batch — per-doc sketches are subset-invariant);
    - ``index``: the persisted ``(band, bucket, rep)`` table
      (:func:`band_index` over everything ingested so far).

    rep_id(new doc) = min(own id, min historical rep over its buckets,
    min NEW id over its buckets). ONE pass over the batch sketch: the
    per-bucket new minimum is a window min on (band, bucket) — not a
    groupBy + join-back, which would re-derive (re-shingle) the batch
    sketch a second and third time — then one LEFT equi-join pulls the
    historical rep for buckets the index knows, and a final min-agg per
    id folds the bucket candidates. Buckets absent from the index
    contribute only the new minimum (coalesce).

    Index-side cost: the join scans the compact (band, bucket, rep)
    table, never the historical TEXT — re-shingling history is what this
    operator exists to avoid (measured at 5M docs, BASELINE.md round-11
    incremental dedup probe: 2.6x faster per ingest than a full
    re-dedup at a 25% batch, 4.5x at 1%, checksum parity both). As
    written the index side does shuffle on (band, bucket); at warehouse
    scale store the index bucketed/sorted on exactly that key so the
    probe joins co-located with zero index movement (plan-asserted:
    tests/test_incremental_dedup.py::test_bucketed_index_joins_colocated
    — the bucketed scan is exchange-free AND sort-free). Spark's runtime
    bloom-filter injection does NOT fire on this shape as written
    (checked at 1000x: Catalyst's InjectRuntimeFilter wants a selective
    creation-side predicate it can recognize, and the batch side's
    modulo filter is not one), so the bucketed layout is the remedy to
    rely on, not runtime filters.

    After ingest, merge the batch into the index with
    :func:`upsert_band_index` (the maintenance_merge_upsert pattern).

    ``skew_safe``: the default window-min puts each (band, bucket) group
    in ONE task — a boilerplate mega-cluster ("enable javascript" x 10^8)
    would serialize into a single sort that outgrows task memory, and
    AQE's skew splitting applies to joins/aggregates, NOT windows. The
    skew-safe form computes per-bucket minima via groupBy (map-side
    partial min — a hot bucket combines down to one row per map task)
    and joins them back, at the price of shuffling the batch sketch
    twice — which re-derives an UNMATERIALIZED sketch pipeline twice, so
    only use it on a materialized sketch (the transactional ingest path
    always stages the sketch to parquet first). Measured at 5M docs
    (r12 skew probe): window vs groupBy is 6.7 vs 5.0 s at a 250k-row
    hot bucket and 4.1 vs 4.4 s at a 1M-row one — equivalent single-node
    to the largest bucket a local probe can build; the groupBy form is
    the insurance for buckets that exceed per-task memory, where the
    window's single sort task spills or dies.
    """
    if skew_safe:
        bucket_new = new_banded.groupBy("band", "bucket").agg(
            F.min(id_col).alias("_min_new")
        )
        bucket_rep = bucket_new.join(index, ["band", "bucket"], "left").select(
            "band",
            "bucket",
            F.least(
                F.col("_min_new"), F.coalesce(F.col("rep"), F.col("_min_new"))
            ).alias("_cand"),
        )
        return (
            new_banded.join(bucket_rep, ["band", "bucket"])
            .groupBy(id_col)
            .agg(F.min("_cand").alias("rep_id"))
        )
    w = Window.partitionBy("band", "bucket")
    with_new_min = new_banded.withColumn(
        "_min_new", F.min(id_col).over(w)
    )
    joined = with_new_min.join(index, ["band", "bucket"], "left")
    bucket_rep = F.least(
        F.col("_min_new"), F.coalesce(F.col("rep"), F.col("_min_new"))
    )
    return (
        joined.groupBy(id_col)
        .agg(F.min(bucket_rep).alias("rep_id"))
    )


def upsert_band_index(index: DataFrame, new_banded: DataFrame, *, id_col: str) -> DataFrame:
    """The index maintenance step: merge a new batch's buckets into the
    persisted ``(band, bucket, rep)`` table — existing buckets keep the
    smaller rep, new buckets insert. Pure min-merge, so it is idempotent
    and retry-safe (re-ingesting the same batch is a no-op); the result
    equals :func:`band_index` over everything ingested so far. At
    warehouse scale this is the MERGE/upsert write the
    maintenance_merge_upsert plan (queries/formats.py) models."""
    return (
        index.unionByName(band_index(new_banded, id_col=id_col))
        .groupBy("band", "bucket")
        .agg(F.min("rep").alias("rep"))
    )


def upsert_band_membership(
    membership: DataFrame, new_banded: DataFrame, *, id_col: str
) -> DataFrame:
    """Merge a new batch's banded rows into the persisted MEMBERSHIP table
    ``(band, bucket, id)`` — the retraction-enabling companion of the
    compact ``(band, bucket, rep)`` index. The index alone is lossy (rep =
    min over the bucket's members, so it cannot answer "who is the next
    rep if this one is deleted"); membership keeps every (bucket, member)
    pair: docs x bands rows of ~25 bytes — ~1% of a text corpus's bytes,
    stored partitioned/bucketed on (band, bucket) at warehouse scale so
    retraction touches only affected buckets. Re-ingesting a batch is a
    no-op (distinct on the full key)."""
    return membership.unionByName(
        new_banded.select("band", "bucket", id_col)
    ).dropDuplicates(["band", "bucket", id_col])


def retract_from_band_index(
    index: DataFrame,
    membership: DataFrame,
    retract_ids: DataFrame,
    *,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Delete documents from a persisted band index (VERDICT r11 task 2 —
    the right-to-be-forgotten / recrawl maintenance op). Returns
    ``(new_index, new_membership)`` equal to :func:`band_index` /
    membership over the SURVIVING corpus — in particular, a bucket whose
    rep was retracted gets the next-smallest surviving member as rep, and
    a bucket with no survivors disappears entirely (min-merge alone could
    never forget either).

    Cost model: ``retract_ids`` (typically tiny — AQE broadcasts it) is
    semi/anti-joined against membership; only the TOUCHED ``(band,
    bucket)`` groups are re-aggregated, everything else passes through
    with an anti-join — with membership bucketed on (band, bucket) the
    recompute reads only affected buckets, never the corpus text. Cost is
    O(membership of touched buckets), independent of corpus size.

    Contract notes: historical ASSIGNMENTS are facts about what was
    ingested when — retraction changes what future ingests see (a
    retracted doc is never again proposed as rep), it does not rewrite
    past batches. Re-ingesting a recrawled document afterwards is just a
    normal ingest of its new text.

    ``retract_ids`` is explicitly BROADCAST: a retraction set is small by
    contract (a deletion request, a recrawl manifest), and without the
    hint a stats-less id frame (createDataFrame, a JDBC read) makes the
    planner shuffle the whole membership table on the id just to
    anti-join a handful of rows. Callers with a genuinely huge retract
    set should instead partition-rebuild via :func:`band_index` over the
    surviving corpus slice."""
    surviving = membership.join(
        F.broadcast(retract_ids), on=id_col, how="left_anti"
    )
    touched = (
        membership.join(F.broadcast(retract_ids), on=id_col, how="left_semi")
        .select("band", "bucket")
        .distinct()
    )
    # touched is one row per affected bucket — broadcast it into both
    # consumers so neither the surviving membership nor the index moves
    touched = F.broadcast(touched)
    recomputed = (
        surviving.join(touched, ["band", "bucket"], "left_semi")
        .groupBy("band", "bucket")
        .agg(F.min(id_col).alias("rep"))
    )
    kept = index.join(touched, ["band", "bucket"], "left_anti")
    return kept.unionByName(recomputed), surviving


def minhash_lsh_clusters(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup cluster assignment: (id, rep_id), total over the corpus.

    rep_id = smallest id sharing any LSH band bucket (itself when unique).
    With K=16, B=4 (R=4 rows/band) the candidate threshold sits near
    Jaccard ~ (1/B)^(1/R) ~ 0.5.

    ``portable=True`` uses the cross-engine signature hash and an md5
    string over the band's signature values as the bucket key (both
    DuckDB-recomputable); default keeps xxhash64 throughout.

    Composition of :func:`banded_buckets` + :func:`lsh_cluster_assign`;
    callers that dedup the same corpus repeatedly should reuse the
    banded sketch via plans/sketchcache.py instead of recomputing it.
    """
    banded = banded_buckets(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
        portable=portable,
    )
    return lsh_cluster_assign(banded, id_col=id_col)


def gram_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int,
    with_pos: bool = False,
    with_n_grams: bool = False,
    with_nw: bool = False,
) -> DataFrame:
    """The shared ``k``-word-gram explode (one tokenization contract for
    the whole dedup/decontamination family — substring spans, the
    contamination scorer, the dirty-window cut): whitespace tokens with
    empties dropped, grams as space-joined slices, documents shorter
    than ``k`` words excluded. Row-local built-ins only — the word array
    is projected ONCE and the explode is a single
    ``transform(sequence) -> slice`` over it (no window, no self-join,
    no re-split per sibling column).

    Output: ``(id_col[, n_grams][, _nw][, start], gram)`` — ``start``
    is the gram's 1-based word position (``with_pos``), ``n_grams`` the
    doc's gram-position count, ``_nw`` the doc's word count (the span
    clamp bound)."""
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = (
        df.select(id_col, w.alias("w"))
        .filter(F.size("w") >= k)
    )
    extras = []
    if with_n_grams:
        extras.append((F.size("w") - (k - 1)).alias("n_grams"))
    if with_nw:
        extras.append(F.size("w").alias("_nw"))
    if not with_pos:
        return base.select(
            id_col,
            *extras,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (k - 1)),
                    lambda i: F.array_join(F.slice("w", i, k), " "),
                )
            ).alias("gram"),
        )
    kept = (["n_grams"] if with_n_grams else []) + (
        ["_nw"] if with_nw else []
    )
    return base.select(
        id_col,
        *extras,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (k - 1)),
                lambda i: F.struct(
                    i.alias("start"),
                    F.array_join(F.slice("w", i, k), " ").alias("gram"),
                ),
            )
        ).alias("s"),
    ).select(id_col, *kept, "s.start", "s.gram")


def substring_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """EXACT-SUBSTRING dedup spans (Lee et al. 2022, arXiv:2107.06499 —
    ExactSubstr re-expressed relationally; factored out of the declared
    ``dedup_substring_spans`` query so the spans->cut->stats pipeline
    composes from the same operator): every ``k``-word gram occurring in
    >= ``min_docs`` distinct documents, merged per document into MAXIMAL
    word spans — ``(id_col, span_start, span_end, n_grams)``, 1-based
    inclusive positions.

    Plan shape (the 100 TB argument, measured to 1000x in BASELINE.md's
    round-13 substring probe): (1) row-local gram explode via one
    ``transform(sequence) -> slice`` projection — no window, no
    self-join; (2) one two-level hash-agg for the >= min_docs inventory
    (map-side combinable, hot grams absorbed by partial aggregation);
    (3) a semi-join back (Catalyst broadcasts the small dup-gram tail);
    (4) per-doc interval merge as the classic window scan — running
    ``max(end)`` over starts, a new span opens when
    ``start > prev_max + 1``. Partitioned by doc, no skew key."""
    g = gram_rows(docs, id_col=id_col, text_col=text_col, k=k, with_pos=True)
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    occ = g.join(dup, "gram", "left_semi").select(
        id_col, "start", (F.col("start") + (k - 1)).alias("e")
    )
    return merge_word_intervals(occ, id_col=id_col)


def merge_word_intervals(occ: DataFrame, *, id_col: str) -> DataFrame:
    """Merge per-document word intervals ``(id_col, start, e)`` (1-based
    inclusive) into MAXIMAL spans — the classic window scan shared by
    the ExactSubstr span detector and the contamination dirty-window
    cut: running ``max(e)`` over ascending starts, a new span opens when
    ``start > prev_max + 1`` (overlap-OR-TOUCH merges), span ids by
    running sum. Emits ``(id_col, span_start, span_end, n_grams)`` in
    :func:`cut_spans`'s expected schema (``n_grams`` = input intervals
    merged into the span). Partitioned by doc — the window never sees
    more rows than one document's intervals, so there is no skew key at
    any corpus size."""
    w = Window.partitionBy(id_col).orderBy("start")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = occ.withColumn(
        "new_span",
        F.when(F.col("start") > F.coalesce(prev_max, F.lit(-1)) + 1, 1)
        .otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        spans.groupBy(id_col, "span_id")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: tuple = (),
    flag_col: str | None = None,
) -> DataFrame:
    """Apply exact-substring dedup spans to the corpus: remove every word
    whose 1-based position falls inside any of the doc's ``(span_start,
    span_end)`` intervals and re-join the survivors — the CUT half of
    the ExactSubstr pass (Lee et al. 2022; the spans come from
    ``dedup_substring_spans``'s pipeline). Emits ``(id_col, text_col)``
    with the cleaned text. Documents with NO spans pass through
    byte-identical (the left-join miss short-circuits to the original
    column before any split). Documents that ARE cut re-join surviving
    words with single spaces — whitespace normalization is inherent to
    the word-position span model (positions count non-empty
    whitespace-split words, so runs of spaces cannot round-trip); the
    ADVICE r13 note pinned this contract and
    tests/test_semantic_dedup.py asserts both halves.

    ``passthrough`` columns of ``docs`` ride along unchanged (so a
    downstream per-group aggregate needs no second join back to the
    corpus), and ``flag_col`` (when set) emits a boolean marking the
    documents that actually had spans.

    All JVM-side built-ins: spans aggregate to one array per doc
    (struct list, never exploded back), and the cut is a single
    ``filter(arrays_zip(sequence, split), pos NOT covered)`` projection
    — whole-stage codegen, no Python, no second shuffle beyond the
    spans' own per-doc collect_list (which is map-side combinable and
    bounded by spans-per-doc, not corpus size). Note the paper's caveat
    applies: removing a span can create NEW adjacencies across the cut
    boundary, so one pass does not guarantee a fixpoint — iterate
    span-detection + cut if the corpus needs it."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    d = docs.join(per_doc, id_col, "left")
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    kept = F.filter(
        F.arrays_zip(
            F.sequence(F.lit(1), F.size(words)).alias("pos"),
            words.alias("w"),
        ),
        lambda z: ~F.exists(
            F.coalesce(F.col("_spans"), F.array()),
            lambda s: (z["pos"] >= s["span_start"])
            & (z["pos"] <= s["span_end"]),
        ),
    )
    cleaned = F.array_join(F.transform(kept, lambda z: z["w"]), " ")
    extra = (
        [F.col("_spans").isNotNull().alias(flag_col)] if flag_col else []
    )
    return d.select(
        id_col,
        *passthrough,
        F.when(F.col("_spans").isNull(), F.col(text_col))
        .otherwise(cleaned)
        .alias(text_col),
        *extra,
    )


def ngram_contamination(
    train: DataFrame,
    evalset: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_inventory: bool = True,
) -> DataFrame:
    """Benchmark decontamination by exact n-gram overlap (Brown et al.
    2020, "Language Models are Few-Shot Learners", Appendix C — 13-gram
    collision against eval sets; Chowdhery et al. 2022 PaLM §8 uses the
    same scheme at 8 grams): score every TRAINING document by how many
    of its distinct ``k``-word grams also occur anywhere in the held-out
    evaluation set, and flag any collision. Emits one row per training
    document with at least ``k`` words: ``(id_col, n_grams,
    n_hit_grams, hit_positions, hit_ratio, contaminated)`` where
    ``n_grams`` is the doc's gram-position count, ``n_hit_grams`` the
    DISTINCT grams shared with the eval inventory, ``hit_positions``
    the gram POSITIONS whose gram is shared, ``hit_ratio`` the rounded
    ``hit_positions / n_grams`` — PaLM's rule is defined over a doc's
    gram occurrences, so a repetitive doc (one leaked sentence looped)
    scores ~1.0 here even though it has one distinct hit gram — and
    ``contaminated`` the paper's any-collision rule (so either decision
    rule falls out without recomputing).
    Documents shorter than ``k`` words have no grams and are excluded —
    the gram model has nothing to say about them.

    Plan shape (the 100 TB argument): ONE pass over the training corpus
    — the gram explode is the row-local ``transform(sequence) -> slice``
    projection (``substring_spans``'s recipe) carrying ``n_grams`` as a
    sibling expression, so no second corpus scan for the per-doc spine
    and no join back for totals. The eval inventory is distinct-reduced
    and EXPLICITLY broadcast: evaluation suites are MB-scale next to a
    training corpus, so the collision test is a map-side hash probe —
    the only exchange in the plan is the final per-doc aggregate, and
    its partial (map-side) phase collapses every non-hit to one null
    cell per doc per partition, so shuffle volume is ~(hits + docs),
    not grams.

    ``broadcast_inventory=False`` drops the hint for the rare
    inventory that outgrows what one executor should hold (a deep
    many-benchmark union at small k) — Catalyst/AQE then picks the
    join; expect a gram-keyed shuffle of the explode, which is the
    honest cost of a non-broadcastable inventory."""
    ev = (
        gram_rows(evalset, id_col=id_col, text_col=text_col, k=k)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    if broadcast_inventory:
        ev = F.broadcast(ev)
    return (
        gram_rows(
            train, id_col=id_col, text_col=text_col, k=k, with_n_grams=True
        )
        .join(ev, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count_distinct(
                F.when(F.col("_hit"), F.col("gram"))
            ).alias("n_hit_grams"),
            F.count(F.when(F.col("_hit"), F.lit(1))).alias(
                "hit_positions"
            ),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit_grams",
            "hit_positions",
            F.round(
                F.col("hit_positions") / F.col("n_grams").cast("double"), 4
            ).alias("hit_ratio"),
            (F.col("n_hit_grams") > 0).alias("contaminated"),
        )
    )


def contamination_spans(
    train: DataFrame,
    evalset: DataFrame | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 0,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """The positions half of the GPT-3 decontamination CUT (Brown et al.
    2020 Appendix C: on a 13-gram collision they remove the gram plus a
    surrounding window and keep the rest of the document): per-training-
    document MAXIMAL merged word spans covered by grams shared with the
    evaluation set, each extended by ``window`` words on both sides
    (clamped to the document). Emits ``(id_col, span_start, span_end,
    n_grams)`` — :func:`cut_spans`'s exact input schema, so
    ``cut_spans(train, contamination_spans(train, evalset))`` IS the
    paper's surgical decontamination (drop the contaminated region, keep
    the clean remainder), where :func:`ngram_contamination` is the
    whole-document scorer for the drop-the-doc rule.

    Same scale shape as the scorer: one training-corpus scan (gram
    explode with start positions + the doc's word count as sibling
    expressions), the eval inventory distinct-reduced and broadcast so
    the collision test is a map-side semi-probe, and the merge windows
    per document (:func:`merge_word_intervals` — bounded by one doc's
    hit count, no skew key).

    ``eval_grams``: a pre-built single-column ``(gram)`` inventory frame
    to probe instead of deriving one from ``evalset`` (which may then be
    None) — :func:`decontaminate_cut_fixpoint` builds the inventory ONCE
    and persists it across rounds; the eval set is fixed, so re-deriving
    it per round would re-scan the eval corpus for nothing (r15)."""
    if eval_grams is not None:
        ev = eval_grams.select("gram")
    else:
        ev = (
            gram_rows(evalset, id_col=id_col, text_col=text_col, k=k)
            .select("gram")
            .distinct()
        )
    occ = (
        gram_rows(
            train,
            id_col=id_col,
            text_col=text_col,
            k=k,
            with_pos=True,
            with_nw=True,
        )
        .join(F.broadcast(ev), "gram", "left_semi")
        .select(
            id_col,
            F.greatest(F.lit(1), F.col("start") - window).alias("start"),
            F.least(
                F.col("_nw"), F.col("start") + (k - 1) + window
            ).alias("e"),
        )
    )
    return merge_word_intervals(occ, id_col=id_col)


def substring_cut_fixpoint(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    max_rounds: int = 8,
    passthrough: tuple = (),
) -> tuple[DataFrame, list]:
    """Iterated ExactSubstr to a FIXPOINT — closes :func:`cut_spans`'s
    documented caveat (Lee et al. 2022 §4: removing a span can create
    NEW adjacencies across the cut boundary, so one detect+cut pass does
    not guarantee the output is duplicate-free): re-run
    :func:`substring_spans` + :func:`cut_spans` until a round finds zero
    cross-document duplicate ``k``-grams or ``max_rounds`` is hit.
    Returns ``(cleaned_docs, rounds)`` where ``rounds`` is a list of
    per-round dicts ``{"round", "docs_cut", "spans"}`` — the audit trail
    a pipeline logs.

    Termination is structural: every cutting round strictly removes >= k
    words from every doc it touches, so total corpus length strictly
    decreases and the loop cannot cycle; ``max_rounds`` only bounds the
    pathological corpus (mutually-regenerating templates). The strict
    postcondition (NO duplicated k-gram across surviving docs) is what
    the fixpoint buys over the declared single-pass
    ``pipeline_substring_cut``; tests assert it directly.

    Scale shape: the driver loop holds only round counters (two bounded
    scalars per round — the span count and cut-doc count the round
    needs anyway to decide termination); each round's frame is
    lineage-truncated (:func:`multiomix_aws_emr_spark.operators.
    checkpointing.truncate_lineage`, the transitive-components recipe)
    so the plan does not grow by one full detect+cut tree per round.
    Rounds after the first run on an already-shrunk corpus, and real
    corpora converge in 1-2 rounds (the probe's replicated corpus
    converges in 2)."""
    from multiomix_aws_emr_spark.operators.checkpointing import (
        truncate_lineage,
    )

    cur = docs.select(id_col, *passthrough, text_col)
    rounds: list = []
    for rnd in range(1, max_rounds + 1):
        spans = substring_spans(
            cur, id_col=id_col, text_col=text_col, k=k, min_docs=min_docs
        )
        agg = spans.agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_distinct(id_col).alias("n_docs"),
        ).collect()[0]
        if not agg.n_spans:
            break
        cur = truncate_lineage(
            cut_spans(
                cur,
                spans,
                id_col=id_col,
                text_col=text_col,
                passthrough=passthrough,
            )
        )
        rounds.append(
            {"round": rnd, "docs_cut": agg.n_docs, "spans": agg.n_spans}
        )
    return cur, rounds


def decontaminate_cut_fixpoint(
    train: DataFrame,
    evalset: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 0,
    max_rounds: int = 8,
    passthrough: tuple = (),
) -> tuple[DataFrame, list]:
    """Iterated surgical decontamination to a FIXPOINT — the
    :func:`substring_cut_fixpoint` twin for the GPT-3 cut: removing a
    contaminated span can create a NEW adjacency across the cut
    boundary that itself matches an eval gram, so one
    ``contamination_spans`` + ``cut_spans`` pass does not guarantee the
    output is collision-free. Loop until a round finds zero
    contaminated spans (or ``max_rounds``); returns
    ``(cleaned_train, rounds)`` with the same per-round audit dicts.
    The strict postcondition — NO surviving training doc shares any
    ``k``-gram with the eval set — is what a leakage auditor actually
    certifies; tests assert it directly.

    The eval inventory is FIXED across rounds: built once
    (distinct-reduced), persisted, and re-probed each round via
    ``contamination_spans(eval_grams=...)`` — rounds re-scan only the
    (shrinking) training corpus, never the eval side. Same termination
    structure as the substring fixpoint: every cutting round strictly
    removes >= k words from every doc it touches."""
    from multiomix_aws_emr_spark.operators.checkpointing import (
        truncate_lineage,
    )

    ev = (
        gram_rows(evalset, id_col=id_col, text_col=text_col, k=k)
        .select("gram")
        .distinct()
        .persist()
    )
    ev.count()
    cur = train.select(id_col, *passthrough, text_col)
    rounds: list = []
    try:
        for rnd in range(1, max_rounds + 1):
            spans = contamination_spans(
                cur,
                None,
                id_col=id_col,
                text_col=text_col,
                k=k,
                window=window,
                eval_grams=ev,
            )
            agg = spans.agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.count_distinct(id_col).alias("n_docs"),
            ).collect()[0]
            if not agg.n_spans:
                break
            cur = truncate_lineage(
                cut_spans(
                    cur,
                    spans,
                    id_col=id_col,
                    text_col=text_col,
                    passthrough=passthrough,
                )
            )
            rounds.append(
                {"round": rnd, "docs_cut": agg.n_docs, "spans": agg.n_spans}
            )
    finally:
        ev.unpersist()
    return cur, rounds
