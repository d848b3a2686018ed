"""Intra-document repetition signals — the full Gopher rule family.

Rae et al. 2021 (arXiv:2112.11446, Table A1) filter pre-training docs on
eight repetition statistics: duplicate line / paragraph fractions (by
count and by character mass) and per-n n-gram character fractions (the
single most common n-gram's share for small n, the share of characters
inside any repeated n-gram for larger n). The declared
``text_repetition_ratio`` query ships the duplicate-bigram headline; this
module computes the whole signal set in THREE relational passes
regardless of how many n's are requested, so a curation pipeline gets
every Gopher column for one corpus read per structure level:

- one pass over separator-split segments (lines or paragraphs — the
  separator is a parameter, so both levels are the same operator),
- one pass emitting (doc, n, gram) for ALL requested n's from a single
  row-local ``transform(sequence)`` + explode (the substring_spans gram
  idiom — no window, no self-join),
- one base projection for per-doc character totals.

Formulas (exact, integer counts until the final division — the repo's
cross-engine discipline; published reimplementations of Gopher differ in
overlap handling, so the contract here is explicit):

- ``dup_seg_frac``      = (total segments − distinct segments) / total
- ``dup_seg_char_frac`` = chars in excess occurrences / total seg chars
  (a segment occurring c times contributes (c−1)·len chars of excess)
- ``top_ngram_char_frac[n]`` = c·len(g) / doc chars for the (c, g)
  maximizing c·len over the doc's n-grams (ties to the lexicographically
  smaller gram; gram length counts the join spaces, doc chars count the
  raw text length)
- ``dup_ngram_char_frac[n]`` = Σ over grams with c ≥ 2 of c·len(g) /
  doc chars (occurrence mass, NOT overlap-merged coverage — may exceed 1
  on degenerate repetition; the ExactSubstr spans operator is the
  coverage-semantics alternative when merged intervals are needed)

Empty docs (no chars / no segments / no grams at order n) yield NULL
fractions rather than a division by zero, and every document stays in
the output via left joins from the corpus spine.

Scale shape: all aggregations key on (doc, …) — perfectly spread, no hot
key, map-side combinable; the n-gram pass costs Σ_n (tokens − n + 1)
rows once, not per signal. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(text_col):
    return F.filter(F.split(text_col, " "), lambda t: t != "")


def segment_repetition(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    prefix: str = "line",
) -> DataFrame:
    """(id, n_<prefix>s, dup_<prefix>_frac, dup_<prefix>_char_frac) —
    duplicate-segment signals for one separator level. ``sep`` is a
    regex (F.split): "\\n" for lines, "\\n\\n+" for paragraphs. Empty
    segments are dropped (blank lines are structure, not content)."""
    segs = docs.select(
        id_col, F.explode(F.split(text_col, sep)).alias("_seg")
    ).filter(F.col("_seg") != "")
    per_seg = segs.groupBy(id_col, "_seg").agg(F.count("*").alias("_c"))
    agg = per_seg.groupBy(id_col).agg(
        F.sum("_c").alias("_total"),
        F.count("*").alias("_distinct"),
        F.sum(F.col("_c") * F.length("_seg")).alias("_chars"),
        F.sum((F.col("_c") - 1) * F.length("_seg")).alias("_excess"),
    )
    return docs.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("_total", F.lit(0)).alias(f"n_{prefix}s"),
        F.round(
            (F.col("_total") - F.col("_distinct"))
            / F.col("_total").cast("double"),
            5,
        ).alias(f"dup_{prefix}_frac"),
        F.round(
            F.col("_excess") / F.col("_chars").cast("double"), 5
        ).alias(f"dup_{prefix}_char_frac"),
    )


def ngram_repetition(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """(id, top_{n}_gram_char_frac…, dup_{n}_gram_char_frac…) — one
    row-local gram emission for ALL n's, one (doc, n, gram) count agg,
    one per-doc pivot to columns (n's are compile-time literals)."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    toks = _tokens(F.col(text_col))
    # per n: array of space-joined n-grams, built row-locally; concat
    # into one array of (n, gram) structs so there is a single explode.
    # sequence(1, stop) DESCENDS when stop < 1 (it would emit positions
    # [1, 0] for short docs), so the short-doc case short-circuits to an
    # empty slice of the same struct type instead of a filter per n
    def _gram_array(n: int):
        cnt = F.size(toks) - F.lit(n - 1)
        # NB: a two-parameter transform lambda receives (element, INDEX)
        # — a `n=n` default in second position silently becomes the
        # element index, so n must ride the closure of this def
        arr = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(toks, i, n)).alias("g"),
            ),
        )
        return F.when(cnt >= 1, arr).otherwise(F.slice(arr, 1, 0))

    gram_arrays = [_gram_array(n) for n in all_ns]
    grams = docs.select(
        id_col,
        F.length(text_col).alias("_doc_chars"),
        F.explode(F.concat(*gram_arrays)).alias("_gr"),
    ).select(
        id_col, "_doc_chars", F.col("_gr.n").alias("_n"), F.col("_gr.g").alias("_g")
    )
    per_gram = grams.groupBy(id_col, "_n", "_g").agg(
        F.count("*").alias("_c"), F.first("_doc_chars").alias("_doc_chars")
    )
    # top gram: max mass with ties to the lexicographically smaller gram
    # — min_by over the struct (−mass, gram), field-wise comparison
    per_n = per_gram.groupBy(id_col, "_n").agg(
        F.min_by(
            F.struct(
                (F.col("_c") * F.length("_g")).alias("mass"),
                F.col("_g").alias("g"),
            ),
            F.struct(
                (-(F.col("_c") * F.length("_g"))).alias("k1"),
                F.col("_g").alias("k2"),
            ),
        ).alias("_top_row"),
        F.sum(
            F.when(F.col("_c") >= 2, F.col("_c") * F.length("_g")).otherwise(0)
        ).alias("_dup_mass"),
        F.first("_doc_chars").alias("_doc_chars"),
    )
    cols = [F.col(id_col)]
    for n in top_ns:
        cols.append(
            F.round(
                F.max(
                    F.when(F.col("_n") == n, F.col("_top_row.mass"))
                )
                / F.first("_doc_chars").cast("double"),
                5,
            ).alias(f"top_{n}_gram_char_frac")
        )
    for n in dup_ns:
        cols.append(
            F.round(
                F.max(F.when(F.col("_n") == n, F.col("_dup_mass")))
                / F.first("_doc_chars").cast("double"),
                5,
            ).alias(f"dup_{n}_gram_char_frac")
        )
    pivoted = per_n.groupBy(id_col).agg(*[c for c in cols[1:]])
    return docs.select(id_col).join(pivoted, id_col, "left")


def repetition_signals(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The full Gopher repetition panel: line + paragraph duplicate
    signals and all requested n-gram fractions, joined on the corpus
    spine — three aggregation passes total, every doc present."""
    lines = segment_repetition(
        docs, id_col=id_col, text_col=text_col, sep="\n", prefix="line"
    )
    paras = segment_repetition(
        docs, id_col=id_col, text_col=text_col, sep="\n\n+", prefix="paragraph"
    )
    grams = ngram_repetition(
        docs, id_col=id_col, text_col=text_col, top_ns=top_ns, dup_ns=dup_ns
    )
    return (
        docs.select(id_col, F.length(text_col).alias("n_chars"))
        .join(lines, id_col, "left")
        .join(paras, id_col, "left")
        .join(grams, id_col, "left")
    )


def unigram_rarity(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Per-document mean inverse unigram probability — the corpus-scale
    production shape of the declared ``text_unigram_rarity`` query:
    ``(id_col, n_tokens bigint, rarity double)``, value-identical to the
    query (contract-tested, tests/test_quality.py).

    ONE corpus tokenize pass: a (doc, token)-keyed count aggregation is
    the only operator that sees token rows; the corpus frequency table
    rolls up over token TYPES per doc (corpus-sublinear), the total rolls
    up over the vocabulary, and the scoring join carries distinct
    (doc, token) pairs re-weighted by their occurrence count ``c`` —
    every downstream consumer derives from the same exchanged subtree,
    so Spark's runtime exchange reuse materializes the tokenize once
    (the train_bigram_lm mechanism, operators/lm.py).

    Use this for corpus-scale scans where executors are busy and total
    work dominates; the declared query keeps three independent subtrees
    because at fixture scale the redundant scans are free on idle cores
    and the critical path is shorter — the measured A/B, fixture shape
    and volume, is BASELINE.md's r15 unigram-rarity shape A/B."""
    tok = docs.select(id_col, F.explode(_tokens(text_col)).alias("tok"))
    per_doc = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    freq = per_doc.groupBy("tok").agg(F.sum("c").alias("n_tok"))
    total = freq.agg(F.sum("n_tok").cast("double").alias("n_total"))
    return (
        per_doc.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            # coalesce with a literal keeps the column NOT NULL, matching
            # the declared query's count() (sum() is nullable by type even
            # though c never is)
            F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * (F.col("n_total") / F.col("n_tok")))
                / F.sum("c"),
                round_digits,
            ).alias("rarity"),
        )
    )
