"""Text analysis + dedup over the `documents` table (north-star surface).

Beyond the reference's own operators, these are the operations a
large-scale training-data pipeline needs: tokenization, word counts,
per-language stats, exact dedup, quality scoring, language ID,
fingerprinting, and a row-expanding chunker (the UDTF surface).

Scale shape: everything is explode + hash-aggregate or pure per-row
expressions — linear, shuffle-bounded, no driver materialization. The
chunker is Arrow-batched ``mapInPandas`` (the UDTF path) since per-row
variable-length expansion in Python is its canonical use.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomix_aws_emr_spark.queries.registry import fact_bytes, query
from multiomix_aws_emr_spark.sources.tables import load


def _tokens(col: str = "text"):
    """Non-empty whitespace tokens (fixture texts may carry trailing spaces)."""
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


@query(
    "text_wordcount",
    oracle=(
        "SELECT w.word, COUNT(*) AS n FROM ("
        "SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) w "
        "WHERE w.word <> '' GROUP BY w.word"
    ),
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic explode + hash-agg wordcount."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_stats",
    oracle=(
        "SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars, "
        "MAX(n_chars) AS max_chars FROM documents GROUP BY lang"
    ),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "dedup_exact",
    oracle=(
        "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count "
        "FROM documents GROUP BY text"
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a deterministic hash-aggregate (keep min doc_id).

    Groups on the compact (length, 2x seeded xxhash64) fingerprint
    instead of the raw text, so the shuffle key is ~20 bytes, not the
    document body (functions/fingerprint.py has the collision-odds
    argument). The emitted text comes back as ``min(text)`` — equal
    within a group, and a map-side partial aggregate, so each map task
    ships one copy per distinct document rather than one per duplicate
    row. Result is identical to ``GROUP BY text`` (the declared oracle).
    """
    from multiomix_aws_emr_spark.functions.fingerprint import (
        text_fingerprint_cols,
    )

    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(*text_fingerprint_cols("text"))
        .agg(
            F.min("text").alias("text"),
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("text", "keep_id", "dup_count")
    )


_SUBSTRING_SPANS_ORACLE = """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), g AS (
  SELECT doc_id, CAST(i AS INTEGER) AS start,
         array_to_string(w[i:i+4], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
  WHERE len(w) >= 5
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), occ AS (
  SELECT g.doc_id, g.start, g.start + 4 AS e
  FROM g JOIN dup USING (gram)
), flagged AS (
  SELECT doc_id, start, e,
         CASE WHEN start > COALESCE(MAX(e) OVER (
              PARTITION BY doc_id ORDER BY start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_span
  FROM occ
), spans AS (
  SELECT doc_id, start, e,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
)
SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM spans GROUP BY doc_id, span_id
"""


@query(
    "dedup_substring_spans",
    oracle=_SUBSTRING_SPANS_ORACLE,
    sizing_hint=fact_bytes("documents", fanout=5.0),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    their ExactSubstr pass, re-expressed relationally): find every
    5-word gram that occurs in MORE THAN ONE document and emit, per
    document, the MAXIMAL merged word spans covered by such grams —
    ``(doc_id, span_start, span_end, n_grams)``, 1-based inclusive word
    positions. These are the regions a training pipeline cuts (unlike
    MinHash, which drops whole near-dup documents, this removes
    boilerplate shared across otherwise-distinct pages: license
    headers, navigation chrome, templated paragraphs).

    The suffix-array the paper builds is a single-machine structure;
    the Spark-first shape is the gram-inventory join: (1) per-doc gram
    explode via one ``transform(sequence) -> slice`` projection (no
    window, no self-join — row-local built-ins), (2) one hash-agg
    finding grams with >= 2 distinct docs, (3) a semi-join back
    (Catalyst picks broadcast when the dup-gram inventory is small —
    at 100 TB the inventory is the (tiny) cross-doc-repeated tail, not
    the corpus), (4) interval merge per doc as the classic
    window-scan: running ``max(end)`` over starts, a new span opens
    when ``start > prev_max + 1`` (overlap-or-touch merges), span ids
    by running sum. Partitioned by doc — no skew key (a doc's gram
    count is bounded by its length, and the merge window is per-doc).
    The oracle recomputes grams, the dup inventory, and the merge from
    raw text.

    Key-form note (measured, BASELINE.md): a compact-fingerprint
    variant (two seeded xxhash64 over the word-slice array as the
    inventory key — the dedup_exact recipe) was A/B'd at 48M grams and
    LOST by ~45% (13.6-16.4 s vs 19.9-21.1 s, identical counts): the
    per-gram hash CPU exceeds the shuffle-byte saving when the gram is
    a short 5-word string (unlike dedup_exact, where the key it
    replaces is a whole document). On a network-shuffled cluster the
    bytes matter more, so the fingerprint form is the documented
    alternative when the exchange — not CPU — is the bottleneck.

    The pipeline body lives in ``operators/dedup.substring_spans``
    (factored in r14 so ``pipeline_substring_cut`` composes the same
    operator); this declaration is the detection half's oracle gate.
    The spans frame is session-shared with ``pipeline_substring_cut``
    (plans/sketchcache.substring_spans_cached, r15): both queries consume
    the identical operator output, so one build serves both — the
    materialized-span-table shape a production corpus runs."""
    from multiomix_aws_emr_spark.plans.sketchcache import (
        substring_spans_cached,
    )

    return substring_spans_cached(spark, sf_dir, k=5)


_SUBSTRING_CUT_ORACLE = """
WITH d AS (
  SELECT doc_id, text, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), g AS (
  SELECT doc_id, CAST(i AS INTEGER) AS start,
         array_to_string(w[i:i+4], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
  WHERE len(w) >= 5
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), occ AS (
  SELECT g.doc_id, g.start, g.start + 4 AS e
  FROM g JOIN dup USING (gram)
), flagged AS (
  SELECT doc_id, start, e,
         CASE WHEN start > COALESCE(MAX(e) OVER (
              PARTITION BY doc_id ORDER BY start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_span
  FROM occ
), spans AS (
  SELECT doc_id, start, e,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
), merged AS (
  SELECT doc_id, MIN(start) AS s, MAX(e) AS e
  FROM spans GROUP BY doc_id, span_id
), per_doc AS (
  SELECT doc_id, list({'s': s, 'e': e}) AS ivs FROM merged GROUP BY doc_id
), cleaned AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN p.doc_id IS NULL THEN d.text
              ELSE array_to_string(
                     list_filter(d.w, (x, i) ->
                       NOT list_aggregate(
                         list_transform(p.ivs,
                                        sp -> i >= sp.s AND i <= sp.e),
                         'bool_or')),
                     ' ')
         END AS text,
         (p.doc_id IS NOT NULL) AS was_cut
  FROM d LEFT JOIN per_doc p USING (doc_id)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN was_cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cut_docs,
       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
         AS BIGINT) AS tokens_total,
       CAST(SUM(len(text)) AS BIGINT) AS chars_total
FROM cleaned GROUP BY lang
"""


@query(
    "pipeline_substring_cut",
    oracle=_SUBSTRING_CUT_ORACLE,
    sizing_hint=fact_bytes("documents", fanout=5.0),
)
def pipeline_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT composed end-to-end as ONE plan (VERDICT r13
    task 4 — the step a training pipeline actually runs): detect the
    cross-document duplicate spans (``operators/dedup.substring_spans``,
    the same operator ``dedup_substring_spans`` declares), REMOVE them
    from the corpus (``operators/dedup.cut_spans`` — docs without spans
    pass through byte-identical; cut docs re-join survivors
    single-spaced, the word-position model's contract), and aggregate
    the residual corpus per language: ``(lang, n_docs, n_cut_docs,
    tokens_total, chars_total)``. The oracle recomputes the whole
    chain from raw text — grams, dup inventory, interval merge, the cut
    itself, and the post-cut token/char sums — so a wrong cut boundary
    anywhere flips the hash.

    Plan shape: the span half is the substring_spans shape (row-local
    gram explode, one two-level hash-agg, semi-join back, per-doc
    window merge); the cut half aggregates spans per doc (bounded by
    spans-per-doc), LEFT-joins them onto the corpus on the doc key, and
    cuts with built-in array HOFs — no Python anywhere; the final
    per-lang aggregate is map-side combinable (5 langs). ``lang`` rides
    the cut as a passthrough column, so the corpus is scanned twice
    (once per join side) and joined ONCE — no third pass, no join back
    for metadata."""
    from multiomix_aws_emr_spark.operators.dedup import cut_spans
    from multiomix_aws_emr_spark.plans.sketchcache import (
        substring_spans_cached,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # session-shared with dedup_substring_spans (identical operator
    # output over the identical input — one span build serves both, r15)
    spans = substring_spans_cached(spark, sf_dir, k=5)
    cleaned = cut_spans(
        d,
        spans,
        id_col="doc_id",
        text_col="text",
        passthrough=("lang",),
        flag_col="was_cut",
    )
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    return cleaned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("was_cut").cast("long")).alias("n_cut_docs"),
        F.sum(toks.cast("long")).alias("tokens_total"),
        F.sum(F.length("text").cast("long")).alias("chars_total"),
    )


_DECONTAMINATE_ORACLE = """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w,
         doc_id % 20 = 0 AS is_eval
  FROM documents
), g AS (
  SELECT doc_id, is_eval, len(w) - 7 AS n_grams,
         array_to_string(w[i:i+7], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
), ev AS (
  SELECT DISTINCT gram FROM g WHERE is_eval
)
SELECT g.doc_id,
       CAST(MAX(g.n_grams) AS INTEGER) AS n_grams,
       CAST(COUNT(DISTINCT CASE WHEN ev.gram IS NOT NULL
                                THEN g.gram END) AS BIGINT)
         AS n_hit_grams,
       CAST(COUNT(CASE WHEN ev.gram IS NOT NULL THEN 1 END) AS BIGINT)
         AS hit_positions,
       ROUND(COUNT(CASE WHEN ev.gram IS NOT NULL THEN 1 END)
             / CAST(MAX(g.n_grams) AS DOUBLE), 4) AS hit_ratio,
       COUNT(DISTINCT CASE WHEN ev.gram IS NOT NULL THEN g.gram END) > 0
         AS contaminated
FROM g LEFT JOIN ev ON g.gram = ev.gram
WHERE NOT g.is_eval
GROUP BY g.doc_id
"""


@query(
    "decontaminate_ngram",
    oracle=_DECONTAMINATE_ORACLE,
    sizing_hint=fact_bytes("documents", fanout=8.0),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 Appendix C / PaLM
    §8): flag training documents sharing any 8-word gram with the
    held-out evaluation split, scored per doc so either decision rule
    (GPT-3's any-collision or PaLM's >=70%) falls out of the same
    output. The eval split stands in for a benchmark suite as the
    deterministic ``doc_id % 20 = 0`` slice of `documents` (real
    pipelines read a separate benchmark table — the plan is identical:
    a tiny side, distinct-reduced and broadcast). Emits one row per
    >=8-word training doc: ``(doc_id, n_grams, n_hit_grams,
    hit_positions, hit_ratio, contaminated)`` — the ratio is
    occurrence-based (PaLM defines its threshold over a doc's gram
    positions), the distinct count rides along for dedup-style
    diagnostics. Sibling of the hits-only hashed variant
    ``text_decontaminate`` (queries/llmdata.py), which reuses the
    shared 5-gram-hash sketch and reports which eval doc leaked; this
    query is the full scored decision surface over raw grams.

    Plan (``operators/dedup.ngram_contamination``): ONE training-corpus
    scan — row-local gram explode carrying the doc's gram count as a
    sibling expression, map-side hash probe against the broadcast eval
    inventory, and a single per-doc aggregate whose partial phase
    collapses non-hits to one null cell per doc per partition (shuffle
    ~ hits + docs, not grams). The oracle recomputes grams, the
    inventory, and both scores from raw text."""
    from multiomix_aws_emr_spark.operators.dedup import ngram_contamination

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % 20 == 0
    return ngram_contamination(
        d.filter(~is_eval), d.filter(is_eval), id_col="doc_id",
        text_col="text", k=8,
    )


_DECONTAMINATE_CUT_ORACLE = """
WITH d AS (
  SELECT doc_id, text, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS w,
         doc_id % 20 = 0 AS is_eval
  FROM documents
), g AS (
  SELECT doc_id, is_eval, len(w) AS nw, CAST(i AS INTEGER) AS start,
         array_to_string(w[i:i+7], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
), ev AS (
  SELECT DISTINCT gram FROM g WHERE is_eval
), occ AS (
  SELECT g.doc_id, GREATEST(1, g.start - 5) AS start,
         LEAST(g.nw, g.start + 7 + 5) AS e
  FROM g JOIN ev USING (gram)
  WHERE NOT g.is_eval
), flagged AS (
  SELECT doc_id, start, e,
         CASE WHEN start > COALESCE(MAX(e) OVER (
              PARTITION BY doc_id ORDER BY start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_span
  FROM occ
), spans AS (
  SELECT doc_id, start, e,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
), merged AS (
  SELECT doc_id, MIN(start) AS s, MAX(e) AS e
  FROM spans GROUP BY doc_id, span_id
), per_doc AS (
  SELECT doc_id, list({'s': s, 'e': e}) AS ivs FROM merged GROUP BY doc_id
), cleaned AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN p.doc_id IS NULL THEN d.text
              ELSE array_to_string(
                     list_filter(d.w, (x, i) ->
                       NOT list_aggregate(
                         list_transform(p.ivs,
                                        sp -> i >= sp.s AND i <= sp.e),
                         'bool_or')),
                     ' ')
         END AS text,
         (p.doc_id IS NOT NULL) AS was_cut
  FROM d LEFT JOIN per_doc p USING (doc_id)
  WHERE NOT d.is_eval
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN was_cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cut_docs,
       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
         AS BIGINT) AS tokens_total,
       CAST(SUM(len(text)) AS BIGINT) AS chars_total
FROM cleaned GROUP BY lang
"""


@query(
    "pipeline_decontaminate_cut",
    oracle=_DECONTAMINATE_CUT_ORACLE,
    sizing_hint=fact_bytes("documents", fanout=8.0),
)
def pipeline_decontaminate_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPT-3 SURGICAL decontamination composed end-to-end as ONE plan
    (Brown et al. 2020 Appendix C: on an eval-set gram collision, remove
    the colliding gram plus a surrounding dirty window and KEEP the rest
    of the document — the document-preserving alternative to the
    drop-the-doc rule ``decontaminate_ngram`` scores): detect per-doc
    contaminated word spans (``operators/dedup.contamination_spans`` —
    8-word grams against the held-out ``doc_id % 20 = 0`` eval slice,
    dirty window ±5 words, clamped and merged), cut them
    (``operators/dedup.cut_spans`` — clean docs pass through
    byte-identical), and aggregate the residual training corpus per
    language: ``(lang, n_docs, n_cut_docs, tokens_total, chars_total)``.
    The oracle recomputes the whole chain from raw text — grams,
    inventory, window extension, interval merge, the cut, and the
    residual sums — so a wrong span boundary anywhere flips the hash.
    Promoted r15 from the r14-tested components (the
    ``pipeline_substring_cut`` oracle shape, VERDICT r14 task 2).

    Plan shape: one training-corpus gram explode (row-local
    ``transform(sequence) -> slice``), map-side semi-probe against the
    distinct-reduced BROADCAST eval inventory (benchmark suites are
    MB-scale next to a training corpus), per-doc window merge (bounded
    by one doc's hit count — no skew key), spans aggregated to one
    array per doc and LEFT-joined back onto the corpus on the doc key,
    the cut itself all JVM array HOFs, and a map-side-combinable
    5-group final aggregate. ``lang`` rides the cut as a passthrough
    column — no metadata join-back. Shuffle volume ~ (hits + cut docs),
    never grams; probed at 100x corpus replication at 1.43x wall with
    exact volume witnesses (BASELINE.md r14)."""
    from multiomix_aws_emr_spark.operators.dedup import (
        contamination_spans,
        cut_spans,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    is_eval = F.col("doc_id") % 20 == 0
    train = d.filter(~is_eval)
    spans = contamination_spans(
        train.select("doc_id", "text"),
        d.filter(is_eval).select("doc_id", "text"),
        id_col="doc_id",
        text_col="text",
        k=8,
        window=5,
    )
    cleaned = cut_spans(
        train,
        spans,
        id_col="doc_id",
        text_col="text",
        passthrough=("lang",),
        flag_col="was_cut",
    )
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    return cleaned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("was_cut").cast("long")).alias("n_cut_docs"),
        F.sum(toks.cast("long")).alias("tokens_total"),
        F.sum(F.length("text").cast("long")).alias("chars_total"),
    )


@query(
    "text_token_count",
    oracle=(
        "SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), "
        "x -> x <> '')) AS INTEGER) AS n_tokens FROM documents"
    ),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting — JVM-side array HOFs, no Python."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.size(_tokens()).alias("n_tokens"))


_STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "text_quality_score",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), x -> x <> '') AS ws "
        "FROM documents) "
        "SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_tokens, "
        "ROUND(len(list_filter(ws, x -> x IN (" + _STOP_SQL + "))) "
        "/ CAST(len(ws) AS DOUBLE), 4) AS stop_ratio, "
        "ROUND(LEAST(1.0, len(ws) / 100.0) * "
        "(1.0 - len(list_filter(ws, x -> x IN (" + _STOP_SQL + "))) "
        "/ CAST(len(ws) AS DOUBLE)), 4) AS qscore "
        "FROM t WHERE len(ws) > 0"
    ),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation x (1 - stopword ratio).

    The filter-rule shape used by LLM corpus pipelines (C4/Gopher-style
    length+stopword heuristics), fully in JVM expressions.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    stops = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    stop_ratio = n_stop / n_tok.cast("double")
    qscore = F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (1.0 - stop_ratio)
    return (
        d.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            F.round(stop_ratio, 4).alias("stop_ratio"),
            F.round(qscore, 4).alias("qscore"),
        )
        .filter(F.col("n_tokens") > 0)
    )


@query(
    "text_fingerprint",
    oracle="SELECT doc_id, md5(lower(text)) AS fp FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 of normalized text) — the
    32-byte dedup key that replaces full-text shuffles at scale."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.lower("text")).alias("fp"))


_ES_MARKERS = ("el", "la", "de", "que", "y", "los", "las", "un", "una")
_EN_MARKERS = ("the", "a", "of", "and", "to", "in", "is", "it")


@query(
    "text_lang_id",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        "list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws, text "
        "FROM documents) "
        "SELECT doc_id, CASE "
        "WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' "
        "WHEN len(list_filter(ws, x -> x IN ("
        + ", ".join(f"'{w}'" for w in _ES_MARKERS)
        + "))) > len(list_filter(ws, x -> x IN ("
        + ", ".join(f"'{w}'" for w in _EN_MARKERS)
        + "))) THEN 'es' ELSE 'en' END AS lang_pred FROM t"
    ),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID heuristic (CJK codepoint check, then
    stopword-list voting) — all JVM-side regex + array HOFs."""
    d = load(spark, sf_dir, "documents")
    lw = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    es = F.array(*[F.lit(w) for w in _ES_MARKERS])
    en = F.array(*[F.lit(w) for w in _EN_MARKERS])
    n_es = F.size(F.filter(lw, lambda x: F.array_contains(es, x)))
    n_en = F.size(F.filter(lw, lambda x: F.array_contains(en, x)))
    pred = (
        F.when(F.col("text").rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(n_es > n_en, F.lit("es"))
        .otherwise(F.lit("en"))
    )
    return d.select("doc_id", pred.alias("lang_pred"))


_CHUNK_WORDS = 5


def _expand_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        doc_ids, idxs, chunks = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = [t for t in text.split(" ") if t]
            for start in range(0, len(toks), _CHUNK_WORDS):
                doc_ids.append(doc_id)
                idxs.append(start // _CHUNK_WORDS)
                chunks.append(" ".join(toks[start : start + _CHUNK_WORDS]))
        yield pd.DataFrame({"doc_id": doc_ids, "chunk_idx": idxs, "chunk": chunks})


@query(
    "udtf_expand",
    oracle=(
        "WITH toks AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), "
        "u AS (SELECT doc_id, UNNEST(ws) AS word, "
        "generate_subscripts(ws, 1) AS ord FROM toks) "
        "SELECT doc_id, CAST(FLOOR((ord - 1) / 5) AS INTEGER) AS chunk_idx, "
        "STRING_AGG(word, ' ' ORDER BY ord) AS chunk "
        "FROM u GROUP BY doc_id, chunk_idx"
    ),
)
def udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding chunker via Arrow-batched ``mapInPandas`` (the UDTF
    surface, closure): one output row per 5-word chunk per document. The
    oracle reproduces the chunking relationally with ordinal unnest."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _expand_chunks, schema="doc_id bigint, chunk_idx int, chunk string"
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "text_token_count_bpe",
    oracle=(
        "SELECT doc_id, CAST(len(regexp_extract_all(text, "
        r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subtokens "
        "FROM documents"
    ),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer counting: letter runs, digit runs, and
    single punctuation marks (the GPT-2 pre-tokenization shape, reduced to
    an RE2-compatible pattern both engines segment identically). The regex
    runs JVM-side via regexp_extract_all — no Python in the loop."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).alias(
            "n_subtokens"
        ),
    )


_CHUNK_SIZE = 8
_CHUNK_STRIDE = 6

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), k AS (
  SELECT doc_id, w, unnest(range(0, ((len(w) - 1) // {_CHUNK_STRIDE}) + 1)) AS chunk_idx
  FROM t WHERE len(w) > 0
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(w[1 + chunk_idx * {_CHUNK_STRIDE} :
                  chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS INTEGER)
         AS n_chunk_tokens,
       array_to_string(w[1 + chunk_idx * {_CHUNK_STRIDE} :
                         chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
         AS chunk_text
FROM k
"""


@query("text_chunk_windows", oracle=_CHUNK_ORACLE)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (context-length prep for LLM
    training): windows of 8 tokens at stride 6, chunk k covering token
    positions [1 + 6k, 6k + 8].

    Scale shape: tokens stay ROWS (posexplode + filter — the HOF-explode
    form recompiles Janino per run); each token fans out to the chunks
    containing it via ``explode(sequence(k_min, k_max))`` — at most
    ceil(size/stride) = 2 rows per token — and chunks reassemble with one
    grouped sort-free aggregate (array_sort over (pos, tok) structs).
    One shuffle, clustered on (doc, chunk)."""
    d = load(spark, sf_dir, "documents")
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).filter(F.col("tok") != "")
    # re-number positions 1..n over only the non-empty tokens
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos0")
    tok = tok.select(
        "doc_id", F.row_number().over(w).alias("p"), "tok"
    )
    k_min = F.greatest(
        F.lit(0), F.ceil((F.col("p") - size) / F.lit(stride)).cast("int")
    )
    k_max = F.floor((F.col("p") - 1) / F.lit(stride)).cast("int")
    fan = tok.select(
        "doc_id", "p", "tok",
        F.explode(F.sequence(k_min, k_max)).alias("chunk_idx"),
    )
    return (
        fan.groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunk_tokens"),
            F.array_sort(F.collect_list(F.struct("p", "tok"))).alias("_st"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "n_chunk_tokens",
            F.array_join(F.transform("_st", lambda s: s.tok), " ").alias(
                "chunk_text"
            ),
        )
    )


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT lang, CAST(cum_before // 512 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM c GROUP BY lang, bin
"""


@query("pipeline_pack_sequences", oracle=_PACK_ORACLE)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concatenate-and-split): docs stream in doc_id
    order per language, and each doc lands in training bin
    ``floor(tokens_before_it / 512)`` — the deterministic packing a
    training pipeline uses to fill fixed context budgets without padding
    waste. One window cumsum per language partition + one aggregate; both
    reuse the same lang-clustered shuffle."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = d.select("doc_id", "lang", F.size(toks).alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.select(
        "lang",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        c.select("lang", F.floor(F.col("cum_before") / 512).alias("bin"), "n_tok")
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


_PII_ORACLE = """
WITH t AS (
  SELECT doc_id,
         text || ' contact' || CAST(doc_id AS VARCHAR) || '@example.com'
           AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS INTEGER) AS n_emails,
       regexp_replace(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+',
         '[EMAIL]', 'g') AS redacted
FROM t
"""


@query("text_redact_pii", oracle=_PII_ORACLE)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email redaction) — the compliance pass every corpus
    pipeline runs before training. A deterministic synthetic email is
    appended per doc (the fixture contains none) so the scrub has an
    observable effect; the pattern is RE2-and-Java-compatible so both
    engines replace identical spans. Pure regexp expressions, narrow, no
    shuffle."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
    )
    pat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(pat), F.lit(0))).alias("n_emails"),
        F.regexp_replace(raw, pat, "[EMAIL]").alias("redacted"),
    )


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(term)
  WHERE length(t.term) > 3
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks GROUP BY term
), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN((SELECT n FROM n) / df.df), 4) AS score
  FROM tf JOIN df ON tf.term = df.term
), ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term AS top_term, score FROM ranked WHERE rn = 1
"""


@query("text_tfidf_topterm", oracle=_TFIDF_ORACLE)
def text_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document most-distinctive term by tf-idf: the corpus-statistics
    primitive behind keyword extraction and quality filters. One token
    explode feeds BOTH aggregates (term frequency per doc, document
    frequency per term), idf joins back on the term key, and a per-doc
    window takes the argmax. Ranking happens on the ROUNDED score so the
    (score, term) tie-break is engine-exact. The token fan-out is
    explode(split(...)) on rows — the shape that scales (and avoids the
    lambda-HOF Generate recompile pathology documented in
    dedup_ngram_jaccard)."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.length("term") > 3)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency derives from tf — its rows are already distinct
    # (doc, term) pairs — so the token explode runs ONCE and the df
    # aggregate reduces the much smaller tf table (a count, not a
    # countDistinct re-expansion; measured ~2x on the declared query)
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n_docs = float(d.count())  # bounded: one scalar
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 4).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "score")
    )


_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), b AS (
  SELECT doc_id,
         [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS bigrams
  FROM t WHERE len(w) >= 2
)
SELECT doc_id,
       CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       ROUND(1.0 - len(list_distinct(bigrams)) / CAST(len(bigrams) AS DOUBLE),
             4) AS rep_ratio
FROM b
"""


@query("text_repetition_ratio", oracle=_REPETITION_ORACLE)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality rule): the fraction
    of duplicate bigrams per document, ``1 - distinct/total``. Boilerplate
    and degenerate generations repeat phrases; the filter threshold on
    this ratio is one of the standard published pre-training quality
    rules. Integer counts until one final division, so the value hashes
    exactly cross-engine.

    Scale shape: posexplode + window lead produce the bigram stream (the
    dedup_ngram_jaccard tokenizer), then ONE aggregation keyed on doc_id
    computes total and distinct together (count + count_distinct in the
    same hash agg) — a single shuffle on doc_id, no self-join."""
    from multiomix_aws_emr_spark.functions.ngrams import bigram_rows

    d = load(spark, sf_dir, "documents")
    big = bigram_rows(d)
    agg = big.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("bg").alias("n_distinct"),
    )
    rep = F.lit(1.0) - F.col("n_distinct") / F.col("n_bigrams").cast("double")
    return agg.select(
        "doc_id", "n_bigrams", F.round(rep, 4).alias("rep_ratio")
    )


_RARITY_ORACLE = """
WITH t AS (
  SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), x -> x <> ''))
    AS tok
  FROM documents
), freq AS (
  SELECT tok, COUNT(*) AS n_tok FROM t GROUP BY tok
), total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM t)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(n_total / n_tok), 4) AS rarity
FROM t JOIN freq USING (tok), total
GROUP BY doc_id
"""


@query(
    "text_unigram_rarity",
    oracle=_RARITY_ORACLE,
    # Rule-2 hint, MEASURED fan-out (tools/fanout_probe.py at sf0.1):
    # 0.18x the documents parquet bytes — the token-frequency side
    # broadcasts and the per-doc re-aggregate map-side-combines, so the
    # widest exchange is SMALLER than the corpus. The sub-1 fan-out is
    # the point: it encodes the r8 measurement that raising this shape's
    # count at 1000x was a 1.7x LOSS (no state to split) — the hint keeps
    # it floored at baseline until the token partials genuinely outgrow
    # task memory. Caveat noted for true TB corpora: if the frequency
    # table ever exceeds the broadcast threshold the join becomes a full
    # token-stream shuffle (fan-out ~1.4) — re-measure before relying on
    # this hint past the broadcastable-vocabulary regime.
    sizing_hint=fact_bytes("documents", fanout=0.2),
)
def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity score per document: the mean inverse
    unigram probability of its tokens (avg over tokens of
    total_tokens / token_count) — the transcendental-free stand-in for
    mean surprisal under the corpus unigram LM. High = rare vocabulary
    (specialist or noisy text), low = common filler; the
    importance-weighting signal for quality-aware sampling. Division is
    IEEE-exact per token (no log), so the rounded mean hashes
    cross-engine.

    Scale shape: the token stream explodes in three INDEPENDENT
    subtrees (frequency counts, corpus total, scoring join) that run
    concurrently — at fixture scale the redundant scans land on idle
    cores and the critical path (scan → freq exchange → broadcast total
    → join) stays as short as possible. The r15 single-pass rewrite
    (derive freq/total/score from one (doc, tok) type-table exchange,
    the mechanism that cut score_bigram_lm 29%) was MEASURED AND
    REJECTED here: min-of-N sf0.1 walls 0.667 s (this shape) vs 1.018 s
    (full type-table) vs 0.822 s (total-from-freq hybrid) — unlike the
    LM case the saved pass is a cheap count scan, and chaining it
    behind the freq exchange lengthens the broadcast dependency
    (BASELINE.md r15 unigram-rarity shape A/B, which also holds the volume
    regime where the type-table shape wins). The production component
    for corpus-scale scans is :func:`multiomix_aws_emr_spark.operators.
    quality.unigram_rarity` (single-pass type table, contract-tested
    identical). At 100 TB the frequency side is Zipf-headed; AQE's
    skew-join split handles the stopword keys (same note as
    operators/lm.py)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    total = freq.agg(F.sum("n_tok").cast("double").alias("n_total"))
    return (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.col("n_total") / F.col("n_tok")), 4).alias(
                "rarity"
            ),
        )
    )


_NGRAM_TOPK_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), b AS (
  SELECT UNNEST([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
  FROM t WHERE len(w) >= 2
)
SELECT bg, n FROM (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS n,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bg) AS rn
  FROM b GROUP BY bg
) WHERE rn <= 10
"""


@query("text_ngram_topk", oracle=_NGRAM_TOPK_ORACLE)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: the 10 most frequent bigrams with
    a total tie-break (count desc, then lexicographic) — the head of the
    corpus bigram LM, the table n-gram-overlap filters and contamination
    heuristics consult.

    Scale shape: one explode + one hash agg + TakeOrderedAndProject for
    the bounded top-k (no global sort materializes; partial aggregation
    combines map-side, so the shuffle carries one row per distinct
    bigram per partition)."""
    from multiomix_aws_emr_spark.functions.ngrams import bigram_rows

    d = load(spark, sf_dir, "documents")
    counts = bigram_rows(d).groupBy("bg").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), "bg").limit(10).select("bg", "n")
