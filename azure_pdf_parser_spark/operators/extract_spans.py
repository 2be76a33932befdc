"""Main-content extraction over interleaved span arrays — the flagship.

Given ``documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)``
produce per-document ordered main-content span sequences plus document
metadata, reproducing the reference's convert-stage semantics:

* boilerplate strip: drop pageHeader/pageFooter/pageNumber spans — the
  main-content analog of the reference's role vocabulary (reference:
  src/azure_pdf_parser/convert.py:46-77 keeps roles verbatim; the engine's
  north_star adds the strip).
* order preservation: output spans keep input order; the output ``offset``
  is the 0-based ordinal in the kept sequence (FIXTURES.md §3).
* kind defaulting: NULL kind → 'Text' (reference: convert.py:75).
* document md5 over the kept text content (reference: utils.py:166-168).
* language detection + >0.4 proportion aggregation (reference:
  experimental_base.py:135-192).

Scale notes: every transform here is a higher-order function over the
``spans`` array column — narrow, shuffle-free, whole-stage-codegen'd.
A 100 TB corpus maps straight through scan→project with no exchange;
the only shuffles in the wider pipeline are the explicit repartition for
parse-skew and the per-doc merge when a document was batch-split
(operators/batching.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_pdf_parser_spark.functions.text import with_language
from azure_pdf_parser_spark.sources.spanize import is_kept_span


def kept_spans_col(spans: Column) -> Column:
    """Filter boilerplate, default NULL kind to 'Text', re-enumerate offset."""
    kept = F.filter(spans, is_kept_span)
    return F.transform(
        kept,
        lambda s, i: F.struct(
            F.coalesce(s.kind, F.lit("Text")).alias("kind"),
            s.text.alias("text"),
            s.media_ref.alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def doc_text_col(spans: Column) -> Column:
    """' '-join of the text of kept text-bearing spans (media spans skipped)."""
    texts = F.filter(spans, lambda s: s.text.isNotNull())
    return F.array_join(F.transform(texts, lambda s: s.text), " ")


def extract(documents: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """documents(doc_id, spans) → parser_output-shaped rows (no shuffle).

    ``passthrough`` names extra input columns to carry into the output
    (e.g. the skew bucket, for manifest lineage).

    Staged projections on purpose: ``spans`` (the kept array) and
    ``_doc_text`` are materialized once each, and the language goes
    through :func:`with_language`, which stages the detector's sample,
    word hits, non-Latin guard and argmax as columns too. The language
    projections are then lambda-free — they land in whole-stage codegen
    — and the 59-score argmax reads ``hits`` as an attribute instead of
    inlining ~70 copies of the 193-word intersect. A single select
    would inline the higher-order-function tree into every
    language-score reference (each inlined copy gets fresh
    lambda-variable ids, which defeats codegen subexpression
    elimination), re-evaluating the span filter/transform per
    reference. CollapseProject will not undo the staging: the staged
    columns are non-cheap and multi-referenced.
    """
    kept = kept_spans_col(F.col("spans"))
    staged = documents.select(
        "doc_id", *passthrough, kept.alias("spans")
    ).withColumn("_doc_text", doc_text_col(F.col("spans")))
    return with_language(staged, "_doc_text", "language").select(
        "doc_id",
        *passthrough,
        "spans",
        F.md5("_doc_text").alias("document_md5_sum"),
        "language",
        F.size("spans").cast("bigint").alias("span_count"),
        F.lit(False).alias("translated"),
        F.lit("ok").alias("status"),
    )


def extract_exploded(documents: DataFrame) -> DataFrame:
    """Flat (doc_id, ord, kind, text, media_ref) rows — one per kept span.

    The exploded form of :func:`extract`, used for oracle comparison and
    for downstream per-span analytics.
    """
    # explode_outer + null-filter, NOT explode: InferFiltersFromGenerate
    # would add size(kept)>0 below a plain explode, and predicate
    # pushdown substitutes the whole kept-spans tree into that filter —
    # the derivation then evaluates ~3× per row (measured 9× slowdown on
    # the media path). Outer generates get no inferred filter.
    kept = kept_spans_col(F.col("spans"))
    ex = documents.select("doc_id", F.explode_outer(kept).alias("s")).where(
        F.col("s").isNotNull()
    )
    return ex.select(
        "doc_id",
        F.col("s.offset").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def doc_languages(documents: DataFrame, min_proportion: float = 0.4) -> DataFrame:
    """O14: per-span language votes → doc languages above the proportion bar.

    Reference semantics (experimental_base.py:162-192): count text blocks
    per detected language, keep languages whose share of *detected*
    (non-null) blocks exceeds ``min_language_proportion`` (default 0.4).
    Array-local implementation: no shuffle — the vote count and the
    proportion filter are higher-order functions over the spans array.
    """
    # Relational, not array-local: a per-span language vote inside an
    # array lambda evaluates the 59-profile detector interpreted per
    # element (lambda projections are CodegenFallback, no CSE) — the
    # round-1 array-local form regressed to 46 s at sf0.1 when the
    # detector widened. Exploding first puts the detector in a
    # lambda-free whole-stage-codegen projection (regex scans CSE'd),
    # and the vote aggregation is two map-side-partial groupBys plus a
    # join on the uniform doc_id key — at 100 TB the exchange moves only
    # (doc_id, language) pairs, orders of magnitude cheaper than
    # interpreted per-span regex re-scans.
    from azure_pdf_parser_spark.partitioning import widen_for_compute

    kept = kept_spans_col(F.col("spans"))
    spans = widen_for_compute(documents).select(
        "doc_id", F.explode_outer(kept).alias("s")
    ).where(F.col("s").isNotNull() & F.col("s.text").isNotNull())
    from pyspark.sql.window import Window

    votes = with_language(spans, "s.text", "language").select(
        "doc_id", "language"
    )
    # single pass over the votes (a numerator/denominator self-join would
    # re-run the whole derive+explode+detect chain on both sides —
    # measured 11.5 s vs 2.5 s): one groupBy keeping NULL-language groups,
    # then a window sum over the tiny aggregated rows for the
    # denominator — ALL text blocks, detected or not (reference
    # experimental_base.py:183-191 divides by len(all_text_block_languages))
    counts = votes.groupBy("doc_id", "language").agg(F.count("*").alias("_c"))
    tot = F.sum("_c").over(Window.partitionBy("doc_id"))
    return (
        counts.withColumn("_n", tot)
        .where(F.col("language").isNotNull() & (F.col("_c") > F.col("_n") * min_proportion))
        .select("doc_id", "language")
    )
