"""Interleaved text+media structure operators over the spans corpus.

The engine's authoritative input is the interleaved span table
``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` — text
spans carrying the reference's paragraph-role vocabulary (reference:
src/azure_pdf_parser/convert.py:75 default-"Text" rule, role strings
from the Azure paragraph model) interleaved with media spans
(kind='figure', text NULL, media_ref set). This family exploits that
interleaving directly — the passes a multimodal training-data
pipeline runs over the whole crawl:

* :func:`media_caption_pairs` — image–text pair mining: for every
  media span, the nearest non-boilerplate text span BEFORE it and
  AFTER it in reading order (caption candidates for CLIP-style
  image/text training pairs). Boilerplate kinds (pageHeader/
  pageFooter/pageNumber — the reference's strip set) never become
  captions.
* :func:`interleave_stats` — per-document structure census: span/
  media/text counts, text↔media transition count, longest text run,
  media density (integer permille). The shape report that decides
  how a corpus is routed (text-only docs → LM pipeline, media-dense
  docs → multimodal pipeline).
* :func:`interleave_segments` — media-delimited text segments: each
  doc becomes an alternating (segment_text, next_media_ref) sequence,
  the standard interleaved representation VLM training corpora ship
  (text chunks alternating with image refs).
* :func:`multimodal_pack` — greedy token-budget sequence packing over
  the interleaved span stream, where a media span costs a fixed
  token count (image-token patch budget) and a text span costs its
  whitespace token count. The interleaved twin of
  operators/packing.py's text-only packer.

(:func:`vlm_training_manifest` joins the mined captions to the media
feature table — see its docstring for the join's scale shape.)

Scale posture: everything except the manifest join is an array-local
projection over the ``spans`` column — zero shuffle, no join, no
window over the corpus; at 100 TB they scale with input splits
exactly like the flagship extraction. ``media_caption_pairs`` does a
per-media-span slice of the document's own span array (O(n) per media
span within one doc, docs are bounded). The spans array is staged
behind a Generate barrier first (:func:`_staged_spans`) — see
docs/INTERLEAVED.md rule 0 for why that is load-bearing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_pdf_parser_spark.sources.spanize import is_kept_span

MEDIA_KIND = "figure"


def _is_caption_candidate(s: Column) -> Column:
    """Text-bearing, non-boilerplate span — eligible as a caption.
    Reuses the flagship's shared strip rule (sources/spanize.py
    is_kept_span) so caption mining can never skew from extraction."""
    return s.text.isNotNull() & is_kept_span(s)


def _staged_spans(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) with ``spans`` MATERIALIZED once per row, empty
    arrays dropped.

    The interleave operators reference ``spans`` many times — per
    metric, and per element inside slice/filter lambdas. When the
    input's spans column is itself an expensive expression (the
    spanize derivation), the optimizer inlines that tree into every
    reference, and lambda projections are CodegenFallback (no CSE) —
    measured 8 s instead of <1 s at sf0.1 on a 36k-span corpus. A
    Generate is a hard materialization barrier: ``explode_outer`` of a
    1-element array evaluates the derivation exactly once per row and
    emits a real attribute that downstream references for free. The
    empty-doc filter runs on the GENERATED attribute, so predicate
    pushdown cannot substitute the derivation tree into it
    (operators/extract_spans.py:extract_exploded documents the same
    trap). Still zero shuffle.
    """
    return spans_df.select(
        "doc_id", F.explode_outer(F.array("spans")).alias("spans")
    ).where(F.size("spans") > 0)


def media_caption_pairs(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) → one row per media span with its nearest
    caption-candidate text on each side.

    Output: ``(doc_id, ord, media_ref, caption_before, caption_after)``
    where ``ord`` is the span's position and either caption is NULL
    when no eligible text span exists on that side. Array-local: the
    before/after search slices the document's own span array, so the
    plan is scan → project → explode with no Exchange.
    """
    spans = F.col("spans")

    def one(i: Column) -> Column:
        s = F.element_at(spans, i + 1)
        before = F.try_element_at(
            F.filter(F.slice(spans, 1, i), _is_caption_candidate), F.lit(-1)
        )
        after = F.try_element_at(
            F.filter(
                F.slice(spans, i + 2, F.size(spans) - i - 1),
                _is_caption_candidate,
            ),
            F.lit(1),
        )
        return F.when(
            s.kind == MEDIA_KIND,
            F.struct(
                i.cast("int").alias("ord"),
                s.media_ref.alias("media_ref"),
                before.text.alias("caption_before"),
                after.text.alias("caption_after"),
            ),
        )

    caps = F.filter(
        F.transform(F.sequence(F.lit(0), F.size(spans) - 1), one),
        lambda c: c.isNotNull(),
    )
    # explode_outer + null-filter, not explode: an inferred
    # size(caps)>0 filter below a plain explode would substitute and
    # re-evaluate the whole caps tree per row (extract_exploded's trap)
    return (
        _staged_spans(spans_df)
        .select("doc_id", F.explode_outer(caps).alias("c"))
        .where(F.col("c").isNotNull())
        .select(
            "doc_id",
            "c.ord",
            "c.media_ref",
            "c.caption_before",
            "c.caption_after",
        )
    )


def interleave_stats(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) → per-doc interleave structure census.

    Output (all BIGINT): ``n_spans``, ``n_media``, ``n_text``,
    ``n_transitions`` (count of adjacent text↔media class changes),
    ``max_text_run`` (longest run of consecutive non-media spans),
    ``media_permille`` (floor(1000·n_media/n_spans) — integer density,
    hash-stable across engines).

    Docs with an empty span array (NULL upstream text) are excluded,
    matching the oracle where they derive zero spanize rows. Two
    folds per doc (transitions; runs) plus three filter/size passes,
    all over the Generate-materialized array; zero shuffle.
    """
    spans = F.col("spans")
    # NULL kind defaults to 'Text' (the reference's convert.py:75 rule).
    # The coalesce matters: a bare s.kind == MEDIA_KIND yields NULL for
    # NULL kinds, which the transition fold would store as prev and
    # propagate — transitions silently undercount (caught by the
    # randomized model test; the oracle's CASE WHEN is NULL-correct).
    is_media = lambda s: (  # noqa: E731
        F.coalesce(s.kind, F.lit("Text")) == MEDIA_KIND
    ).cast("int")

    n_spans = F.size(spans).cast("bigint")
    n_media = F.size(F.filter(spans, lambda s: s.kind == MEDIA_KIND)).cast(
        "bigint"
    )
    n_text = F.size(F.filter(spans, lambda s: s.text.isNotNull())).cast(
        "bigint"
    )
    # transitions: fold carrying (prev class ∈ {-1 init, 0 text, 1 media}).
    n_transitions = F.aggregate(
        spans,
        F.struct(
            F.lit(-1).cast("int").alias("prev"), F.lit(0).cast("bigint").alias("cnt")
        ),
        lambda st, s: F.struct(
            is_media(s).alias("prev"),
            (
                st.cnt
                + F.when(
                    (st.prev != -1) & (st.prev != is_media(s)), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("cnt"),
        ),
        lambda st: st.cnt,
    )
    # longest non-media run: fold carrying (current run, best run).
    max_text_run = F.aggregate(
        spans,
        F.struct(
            F.lit(0).cast("bigint").alias("cur"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda st, s: F.struct(
            F.when(s.kind == MEDIA_KIND, F.lit(0).cast("bigint"))
            .otherwise(st.cur + 1)
            .alias("cur"),
            F.greatest(
                st.best,
                F.when(s.kind == MEDIA_KIND, F.lit(0).cast("bigint")).otherwise(
                    st.cur + 1
                ),
            ).alias("best"),
        ),
        lambda st: st.best,
    )
    return _staged_spans(spans_df).select(
        "doc_id",
        n_spans.alias("n_spans"),
        n_media.alias("n_media"),
        n_text.alias("n_text"),
        n_transitions.alias("n_transitions"),
        max_text_run.alias("max_text_run"),
        F.floor(F.lit(1000.0) * n_media / n_spans)
        .cast("bigint")
        .alias("media_permille"),
    )


def interleave_segments(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) → media-delimited text segments.

    Segment ``k`` is the ' '-join (in span order) of every
    caption-candidate text span with exactly ``k`` media spans before
    it; ``next_media_ref`` is the (k+1)-th media span's ref (NULL for
    the segment after the last media). One row per k in
    ``0..n_media``, except the trailing row is dropped when it has no
    text — so a doc with no media and no eligible text emits nothing.

    Output: ``(doc_id, segment_id, segment_text, next_media_ref)`` —
    the alternating text/image sequence interleaved VLM corpora ship.
    Array-local: an exclusive prefix-count of media spans is staged
    once per doc, then each segment is a filtered join over the doc's
    own spans. Zero shuffle.
    """
    # exclusive media-count prefix fold (one entry per span), staged
    # behind a SECOND Generate barrier together with the spans array:
    # the per-segment lambdas below reference both many times (per
    # element), and an aliased fold would otherwise re-inline per
    # reference (interpreted, no CSE) — O(n²) per doc at the tail.
    mb_fold = F.aggregate(
        F.col("spans"),
        F.struct(
            F.array().cast("array<int>").alias("arr"),
            F.lit(0).cast("int").alias("acc"),
        ),
        lambda st, s: F.struct(
            F.concat(st.arr, F.array(st.acc)).alias("arr"),
            (
                st.acc
                + F.when(s.kind == MEDIA_KIND, F.lit(1)).otherwise(F.lit(0))
            ).alias("acc"),
        ),
        lambda st: st.arr,
    )
    staged = _staged_spans(spans_df).select(
        "doc_id",
        F.explode_outer(
            F.array(
                F.struct(
                    F.col("spans").alias("sp"), mb_fold.alias("mb")
                )
            )
        ).alias("z"),
    )
    spans = F.col("z.sp")
    mb = F.col("z.mb")

    n_media = F.size(F.filter(spans, lambda s: s.kind == MEDIA_KIND))

    def seg(k: Column) -> Column:
        texts = F.transform(
            F.filter(
                spans,
                lambda s, i: _is_caption_candidate(s)
                & (F.element_at(mb, i + 1) == k),
            ),
            lambda s: s.text,
        )
        next_media = F.try_element_at(
            F.filter(
                spans,
                lambda s, i: (s.kind == MEDIA_KIND)
                & (F.element_at(mb, i + 1) == k),
            ),
            F.lit(1),
        )
        return F.struct(
            k.cast("int").alias("segment_id"),
            F.when(F.size(texts) > 0, F.array_join(texts, " ")).alias(
                "segment_text"
            ),
            next_media.media_ref.alias("next_media_ref"),
        )

    segs = F.filter(
        F.transform(F.sequence(F.lit(0), n_media), seg),
        # drop the trailing (k = n_media) row when it carries no text
        lambda c: c.segment_text.isNotNull() | c.next_media_ref.isNotNull(),
    )
    return (
        staged.select("doc_id", F.explode_outer(segs).alias("c"))
        .where(F.col("c").isNotNull())
        .select(
            "doc_id", "c.segment_id", "c.segment_text", "c.next_media_ref"
        )
    )


MEDIA_TOKEN_COST = 64
PACK_TOKEN_BUDGET = 128


def multimodal_pack(
    spans_df: DataFrame,
    budget: int = PACK_TOKEN_BUDGET,
    media_cost: int = MEDIA_TOKEN_COST,
) -> DataFrame:
    """Greedy token-budget packing of the interleaved span stream.

    Boilerplate spans are dropped; each surviving span costs
    ``media_cost`` tokens if it is media, else its whitespace token
    count. Spans are assigned to sequences greedily in reading order:
    a span opens a new sequence exactly when adding it would push the
    running total past ``budget`` (an oversized single span occupies
    its own sequence and may exceed the budget — the standard rule).
    Sequences never cross documents (cross-doc packing changes
    attention masking; the text-only packer in operators/packing.py
    makes the same call).

    Output: ``(doc_id, ord, kind, cost, seq_id)``, one row per packed
    span, ``ord`` the span's position in the ORIGINAL span array.
    One fold per doc, zero shuffle; the oracle replays the greedy
    state machine as a recursive CTE.
    """
    spans = F.col("spans")

    def span_cost(s: Column) -> Column:
        # NULL text on a non-media span is contract-violating but
        # schema-legal: coalesce to '' (cost 1, same as empty text) so
        # a NULL can never reach the fold's accumulator — a NULL acc
        # makes every later when-condition NULL→false and freezes
        # seq_id for the rest of the doc. The oracle coalesces
        # identically.
        return (
            F.when(
                F.coalesce(s.kind, F.lit("Text")) == MEDIA_KIND,
                F.lit(media_cost),
            )
            .otherwise(
                F.size(F.split(F.coalesce(s.text, F.lit("")), " "))
            )
            .cast("bigint")
        )

    # keep (original ord, kind, PRECOMPUTED cost) for non-boilerplate
    # spans: the fold below reads e.cost as an O(1) field instead of
    # re-evaluating a split() five times per step inside an interpreted
    # (no-CSE) lambda
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size(spans) - 1),
            lambda i: F.struct(
                i.cast("int").alias("ord"),
                F.element_at(spans, i + 1).kind.alias("kind"),
                span_cost(F.element_at(spans, i + 1)).alias("cost"),
            ),
        ),
        is_kept_span,  # reads only .kind — the shared strip rule
    )

    elem = (
        "struct<ord:int,kind:string,cost:bigint,seq_id:bigint>"
    )
    packed = F.aggregate(
        kept,
        F.struct(
            F.lit(0).cast("bigint").alias("acc"),
            F.lit(-1).cast("bigint").alias("seq"),
            F.array().cast(f"array<{elem}>").alias("out"),
        ),
        # the is-new predicate repeats in three fields, but over O(1)
        # field reads of the precomputed cost — cheap even interpreted
        lambda st, e: F.struct(
            F.when(
                (st.acc == 0) | (st.acc + e.cost > budget), e.cost
            )
            .otherwise(st.acc + e.cost)
            .alias("acc"),
            (
                st.seq
                + F.when(
                    (st.acc == 0) | (st.acc + e.cost > budget), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("seq"),
            F.concat(
                st.out,
                F.array(
                    F.struct(
                        e.ord.alias("ord"),
                        e.kind.alias("kind"),
                        e.cost.alias("cost"),
                        (
                            st.seq
                            + F.when(
                                (st.acc == 0)
                                | (st.acc + e.cost > budget),
                                F.lit(1),
                            ).otherwise(F.lit(0))
                        ).alias("seq_id"),
                    )
                ),
            ).alias("out"),
        ),
        lambda st: st.out,
    )
    return (
        _staged_spans(spans_df)
        .select("doc_id", F.explode_outer(packed).alias("c"))
        .where(F.col("c").isNotNull())
        .select("doc_id", "c.ord", "c.kind", "c.cost", "c.seq_id")
    )


def vlm_training_manifest(
    spans_df: DataFrame, media_features_df: DataFrame
) -> DataFrame:
    """Join the mined caption pairs to the parsed media feature table —
    the emit-ready multimodal training manifest
    ``(media_ref, doc_id, ord, caption_before, caption_after,
    media_type, format, width, height)``.

    The one non-map-only member of the interleave family, on purpose:
    at 100 TB both sides are corpus-sized (captions ~1 row per media
    span; the media table is the heavy side, operators/multimodal.py's
    partitioning note), so this plans as a shuffle equi-join on
    ``media_ref`` — md5-uniform keys, no skew, never a broadcast of
    either side and never a nested-loop (plan-pinned).

    Drop rule: the join is INNER, so a caption row whose ``media_ref``
    has no feature row (e.g. its media parse was quarantined) is not in
    the manifest. The dropped rows are exactly
    ``media_caption_pairs(spans_df).join(feats, "media_ref", "left_anti")``
    — count that to report the loss.
    """
    feats = media_features_df.select(
        "media_ref", "media_type", "format", "width", "height"
    )
    return media_caption_pairs(spans_df).join(feats, "media_ref").select(
        "media_ref",
        "doc_id",
        "ord",
        "caption_before",
        "caption_after",
        "media_type",
        "format",
        "width",
        "height",
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (composed over the shared spanize CTE by the registry).
# ---------------------------------------------------------------------------

# Shared caption CTE prefix — a named constant so every consumer
# (the caption gate, the VLM manifest join) composes from it instead
# of string-surgery on a sibling's SQL (the r4-ADVICE passages lesson).
CAPTION_SQL_CTES = """
cand AS (
    SELECT doc_id, ord, kind, media_ref,
           CASE WHEN text IS NOT NULL
                 AND COALESCE(kind, 'Text')
                     NOT IN ('pageHeader', 'pageFooter', 'pageNumber')
                THEN text END AS cap_text
    FROM spanize
),
w AS (
    SELECT doc_id, ord, kind, media_ref,
           last_value(cap_text IGNORE NULLS) OVER (
               PARTITION BY doc_id ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS caption_before,
           first_value(cap_text IGNORE NULLS) OVER (
               PARTITION BY doc_id ORDER BY ord
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ) AS caption_after
    FROM cand
)
"""

MEDIA_CAPTION_PAIRS_SQL_TAIL = (
    CAPTION_SQL_CTES
    + """
SELECT doc_id, ord, media_ref, caption_before, caption_after
FROM w WHERE kind = 'figure'
"""
)

# {feats_sql} is a complete SELECT over spanize predicting the media
# feature table (operators/multimodal.py's nibble oracles).
VLM_MANIFEST_SQL_TAIL = (
    CAPTION_SQL_CTES
    + """,
feats AS ({feats_sql})
SELECT c.media_ref, c.doc_id, c.ord, c.caption_before, c.caption_after,
       f.media_type, f.format, f.width, f.height
FROM (SELECT doc_id, ord, media_ref, caption_before, caption_after
      FROM w WHERE kind = 'figure') c
JOIN feats f USING (media_ref)
"""
)

INTERLEAVE_SEGMENTS_SQL_TAIL = """
cand AS (
    SELECT doc_id, ord,
           CASE WHEN kind = 'figure' THEN 1 ELSE 0 END AS is_media,
           media_ref,
           CASE WHEN text IS NOT NULL
                 AND COALESCE(kind, 'Text')
                     NOT IN ('pageHeader', 'pageFooter', 'pageNumber')
                THEN text END AS cap_text
    FROM spanize
),
w AS (
    SELECT doc_id, ord, is_media, media_ref, cap_text,
           COALESCE(SUM(is_media) OVER (
               PARTITION BY doc_id ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS mb
    FROM cand
),
nm AS (
    SELECT doc_id, CAST(SUM(is_media) AS BIGINT) AS n_media
    FROM w GROUP BY doc_id
),
ks AS (
    SELECT doc_id, CAST(UNNEST(range(n_media + 1)) AS INT) AS segment_id,
           n_media
    FROM nm
),
text_segs AS (
    SELECT doc_id, mb AS segment_id,
           string_agg(cap_text, ' ' ORDER BY ord) AS segment_text
    FROM w WHERE cap_text IS NOT NULL GROUP BY doc_id, mb
),
media_rows AS (
    SELECT doc_id, mb AS segment_id, media_ref FROM w WHERE is_media = 1
)
SELECT k.doc_id, k.segment_id, t.segment_text,
       m.media_ref AS next_media_ref
FROM ks k
LEFT JOIN text_segs t USING (doc_id, segment_id)
LEFT JOIN media_rows m USING (doc_id, segment_id)
WHERE t.segment_text IS NOT NULL OR m.media_ref IS NOT NULL
"""

# Greedy packing state machine replayed as a recursive CTE — compose
# with ``WITH RECURSIVE``. {budget}/{media_cost} are int literals.
MULTIMODAL_PACK_SQL_TAIL = """
cand AS (
    SELECT doc_id, ord, kind,
           CAST(CASE WHEN COALESCE(kind, 'Text') = 'figure'
                     THEN {media_cost}
                     ELSE len(string_split(COALESCE(text, ''), ' '))
                END AS BIGINT) AS cost
    FROM spanize
    WHERE COALESCE(kind, 'Text')
          NOT IN ('pageHeader', 'pageFooter', 'pageNumber')
),
seqd AS (
    SELECT doc_id, ord, kind, cost,
           row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
    FROM cand
),
step AS (
    SELECT doc_id, rn, ord, kind, cost, cost AS acc,
           CAST(0 AS BIGINT) AS seq_id
    FROM seqd WHERE rn = 1
    UNION ALL
    SELECT k.doc_id, k.rn, k.ord, k.kind, k.cost,
           CASE WHEN s.acc + k.cost > {budget} THEN k.cost
                ELSE s.acc + k.cost END,
           CASE WHEN s.acc + k.cost > {budget} THEN s.seq_id + 1
                ELSE s.seq_id END
    FROM step s JOIN seqd k ON k.doc_id = s.doc_id AND k.rn = s.rn + 1
)
SELECT doc_id, ord, kind, cost, seq_id FROM step
"""

INTERLEAVE_STATS_SQL_TAIL = """
cls AS (
    SELECT doc_id, ord,
           CASE WHEN kind = 'figure' THEN 1 ELSE 0 END AS is_media,
           CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END AS is_text
    FROM spanize
),
lagged AS (
    SELECT doc_id, ord, is_media, is_text,
           lag(is_media) OVER (PARTITION BY doc_id ORDER BY ord) AS prev_media,
           SUM(is_media) OVER (
               PARTITION BY doc_id ORDER BY ord
           ) AS grp
    FROM cls
),
runs AS (
    SELECT doc_id, grp, COUNT(*) AS run_len
    FROM lagged WHERE is_media = 0 GROUP BY doc_id, grp
),
base AS (
    SELECT doc_id,
           COUNT(*) AS n_spans,
           SUM(is_media) AS n_media,
           SUM(is_text) AS n_text,
           SUM(CASE WHEN prev_media IS NOT NULL AND prev_media <> is_media
                    THEN 1 ELSE 0 END) AS n_transitions
    FROM lagged GROUP BY doc_id
),
mx AS (SELECT doc_id, MAX(run_len) AS max_text_run FROM runs GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_spans AS BIGINT)       AS n_spans,
       CAST(b.n_media AS BIGINT)       AS n_media,
       CAST(b.n_text AS BIGINT)        AS n_text,
       CAST(b.n_transitions AS BIGINT) AS n_transitions,
       CAST(COALESCE(m.max_text_run, 0) AS BIGINT) AS max_text_run,
       CAST(floor(1000.0 * b.n_media / b.n_spans) AS BIGINT) AS media_permille
FROM base b LEFT JOIN mx m ON b.doc_id = m.doc_id
"""
