"""Layout analysis: text-block segmentation, XY-cut reading order,
header/footer and boilerplate stripping.

North_star delta (BASELINE.json): the reference only calls
``PdfReader.pages[0].extract_text()`` (reference src/data.py:222) — this
module supplies the layout leg a real web-scale pipeline needs. Invariant
pinned by SURVEY §2.11: on single-block, pre-OCR'd documents (the reference
corpora) the whole stage must reduce to **identity**, so golden span parity
is unaffected.

Two layers:

* Pure geometry (this module, no Spark): blocks -> XY-cut order ->
  positional header/footer classification. Runs inside the PDF-source
  pandas UDF, per document — embarrassingly parallel.
* Corpus-frequency boilerplate strip (:func:`boilerplate_strip`): a
  distributed two-pass operator — count line-fingerprint document
  frequency per source (one shuffle on a 64-bit key), broadcast the
  frequent set, filter text spans. Frequency thresholds are per-source
  (headers repeat within a site, not across the web).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Block:
    """A positioned text block (page coordinates: origin top-left, y down)."""

    text: str
    x0: float
    y0: float
    x1: float
    y1: float
    page: int = 0


# ---------------------------------------------------------------------------
# XY-cut reading order
# ---------------------------------------------------------------------------


def _gaps(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Maximal gaps inside [lo, hi] not covered by any interval."""
    ivs = sorted(intervals)
    gaps = []
    cur = lo
    for a, b in ivs:
        if a > cur:
            gaps.append((cur, a))
        cur = max(cur, b)
    if cur < hi:
        gaps.append((cur, hi))
    return gaps


def xy_cut(blocks: list[Block], min_gap: float = 1.0) -> list[Block]:
    """Recursive XY-cut: split on the widest horizontal whitespace band
    (valley in the y-projection), then the widest vertical band, recursing;
    leaves are ordered top-to-bottom, left-to-right. The classical
    reading-order reconstruction for Manhattan layouts."""
    if len(blocks) <= 1:
        return list(blocks)

    y_lo = min(b.y0 for b in blocks)
    y_hi = max(b.y1 for b in blocks)
    x_lo = min(b.x0 for b in blocks)
    x_hi = max(b.x1 for b in blocks)

    # Candidate cuts on both axes; take the WIDEST whitespace band overall
    # (a column gutter beats a narrow inter-paragraph band, so columns are
    # separated before rows — the standard XY-cut policy).
    ygaps = [
        g for g in _gaps([(b.y0, b.y1) for b in blocks], y_lo, y_hi)
        if g[1] - g[0] >= min_gap
    ]
    xgaps = [
        g for g in _gaps([(b.x0, b.x1) for b in blocks], x_lo, x_hi)
        if g[1] - g[0] >= min_gap
    ]
    best_y = max(ygaps, key=lambda g: g[1] - g[0], default=None)
    best_x = max(xgaps, key=lambda g: g[1] - g[0], default=None)

    def width(g):
        return g[1] - g[0] if g else -1.0

    if width(best_x) > width(best_y):
        mid = (best_x[0] + best_x[1]) / 2
        left = [b for b in blocks if b.x1 <= mid]
        right = [b for b in blocks if b.x1 > mid]
        if left and right:
            return xy_cut(left, min_gap) + xy_cut(right, min_gap)
    if best_y is not None:
        mid = (best_y[0] + best_y[1]) / 2
        top = [b for b in blocks if b.y1 <= mid]
        bottom = [b for b in blocks if b.y1 > mid]
        if top and bottom:
            return xy_cut(top, min_gap) + xy_cut(bottom, min_gap)
    if best_x is not None:
        mid = (best_x[0] + best_x[1]) / 2
        left = [b for b in blocks if b.x1 <= mid]
        right = [b for b in blocks if b.x1 > mid]
        if left and right:
            return xy_cut(left, min_gap) + xy_cut(right, min_gap)

    return sorted(blocks, key=lambda b: (b.y0, b.x0))


def segment_blocks(
    lines: list[Block], line_gap: float = 2.0
) -> list[Block]:
    """Merge adjacent lines into blocks: lines whose vertical gap is below
    ``line_gap`` and whose x-extents overlap join the same block (simple
    bottom-up agglomeration — the block-segmentation step before XY-cut)."""
    if not lines:
        return []
    remaining = sorted(lines, key=lambda b: (b.page, b.y0, b.x0))
    blocks: list[Block] = []
    cur = remaining[0]
    for ln in remaining[1:]:
        overlap_x = min(cur.x1, ln.x1) - max(cur.x0, ln.x0)
        if ln.page == cur.page and 0 <= ln.y0 - cur.y1 <= line_gap and overlap_x > 0:
            cur = Block(
                text=cur.text + "\n" + ln.text,
                x0=min(cur.x0, ln.x0),
                y0=cur.y0,
                x1=max(cur.x1, ln.x1),
                y1=ln.y1,
                page=cur.page,
            )
        else:
            blocks.append(cur)
            cur = ln
    blocks.append(cur)
    return blocks


# ---------------------------------------------------------------------------
# positional header/footer classification (per document)
# ---------------------------------------------------------------------------


def classify_header_footer(
    blocks: list[Block],
    page_height: float,
    header_band: float = 0.08,
    footer_band: float = 0.08,
) -> list[tuple[Block, str]]:
    """Tag each block 'header' / 'footer' / 'body' by position: fully inside
    the top/bottom band. (Positional half of the heuristic; the frequency
    half is corpus-level — see boilerplate_strip.)"""
    tagged = []
    for b in blocks:
        if b.y1 <= page_height * header_band:
            tagged.append((b, "header"))
        elif b.y0 >= page_height * (1 - footer_band):
            tagged.append((b, "footer"))
        else:
            tagged.append((b, "body"))
    return tagged


def reading_order_text(
    blocks: list[Block],
    page_height: Optional[float] = None,
    strip_header_footer: bool = True,
    min_gap: float = 1.0,
) -> str:
    """blocks -> reading-ordered body text. Single-block documents pass
    through verbatim (the SURVEY §2.11 identity invariant). Pages are
    processed independently in page order — coordinates are page-local, so
    cutting across pages would geometrically interleave their blocks."""
    if len(blocks) <= 1:
        return blocks[0].text if blocks else ""
    parts: list[str] = []
    for page in sorted({b.page for b in blocks}):
        pb = [b for b in blocks if b.page == page]
        if strip_header_footer and page_height:
            pb = [
                b
                for b, tag in classify_header_footer(pb, page_height)
                if tag == "body"
            ]
        parts.extend(b.text for b in xy_cut(pb, min_gap=min_gap))
    return "\n".join(parts)


def strip_boilerplate_spans(
    docs: DataFrame,
    min_doc_frac: float = 0.5,
    min_docs: int = 5,
    max_span_len: int = 500,
) -> DataFrame:
    """Span-level boilerplate strip over an input span table: text spans
    whose trimmed content repeats across >= ``min_doc_frac`` of a label's
    documents (site template blocks, nav, footers) are removed; media spans
    and all other columns pass through; offsets renumber.

    Plan: explode -> fingerprint -> (label, fp) doc-frequency agg [one
    shuffle on a 64-bit key] -> broadcast anti-join of the tiny frequent
    set -> re-aggregate span arrays [one shuffle on doc_id]. Reduces to
    identity when no span repeats (the SURVEY §2.11 invariant — default-off
    in the pipeline)."""
    label_totals = docs.groupBy("label").agg(F.count("*").alias("_n"))
    ex = docs.select("doc_id", "label", F.explode("spans").alias("s"))
    frequent = (
        ex.filter(F.col("s.kind") == "text")
        .filter(F.length("s.text") <= max_span_len)
        # blank/whitespace-only spans are structure, not boilerplate —
        # never let them into the frequent vote
        .filter(F.trim("s.text") != "")
        .select("label", "doc_id", F.xxhash64(F.trim("s.text")).alias("_fp"))
        .distinct()
        .groupBy("label", "_fp")
        .agg(F.count("*").alias("_df"))
        .join(F.broadcast(label_totals), "label")
        .filter(
            (F.col("_df") >= min_docs)
            & (F.col("_df") / F.col("_n") >= min_doc_frac)
        )
        .select("label", "_fp")
    )
    kept = ex.withColumn(
        "_fp",
        # null keys never match the anti-join, so media spans, blank spans
        # and over-length spans (ineligible to vote) are all kept — a span
        # may only be stripped from the length class that was measured
        F.when(
            (F.col("s.kind") == "text")
            & (F.length("s.text") <= max_span_len)
            & (F.trim("s.text") != ""),
            F.xxhash64(F.trim("s.text")),
        ).otherwise(F.lit(None)),
    ).join(F.broadcast(frequent), ["label", "_fp"], "left_anti")
    new_spans = kept.groupBy("doc_id").agg(
        F.expr(
            "transform("
            " array_sort(collect_list(s), (l, r) -> l.offset - r.offset),"
            " (x, i) -> struct(x.kind as kind, x.text as text,"
            " x.media_ref as media_ref, cast(i as int) as offset))"
        ).alias("_new_spans")
    )
    return (
        docs.drop("spans")
        .join(new_spans, "doc_id", "left")
        .withColumn(
            "spans",
            F.coalesce(
                F.col("_new_spans"),
                F.expr(
                    "cast(array() as array<struct<kind:string,text:string,"
                    "media_ref:string,offset:int>>)"
                ),
            ),
        )
        .drop("_new_spans")
    )


# ---------------------------------------------------------------------------
# corpus-frequency boilerplate strip (distributed)
# ---------------------------------------------------------------------------


def boilerplate_strip(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    min_doc_frac: float = 0.5,
    min_docs: int = 5,
    max_line_len: int = 200,
) -> DataFrame:
    """Remove lines that repeat across >= ``min_doc_frac`` of a source's
    documents (site-wide headers/footers/nav).

    Plan: explode distinct lines -> xxhash64 fingerprint -> groupBy
    (source, fp) docfreq [one shuffle, partial agg] -> join per-source doc
    totals [broadcast: #sources is small] -> frequent set joined back as a
    left-anti on exploded lines -> re-assemble text. Adds a
    ``<text_col>_clean`` column; other columns pass through."""
    # Content-derived row key: keys both the per-document distinct in the
    # frequency count and the re-assembly. Content (not
    # monotonically_increasing_id) because the key column is evaluated in
    # two independent plan branches — a nondeterministic id could differ
    # between them under task retry / shuffle reordering and attach one
    # doc's cleaned text to another. Rows identical in (source, text) share
    # a key AND a cleaned result; the final left-join fans that result back
    # to every copy, so duplicates survive as duplicates. Document
    # frequency therefore counts identical documents ONCE (exact-dup spam
    # cannot vote its own content into "boilerplate").
    # 128-bit key: a 64-bit hash colliding across ~10^9 docs (the scale this
    # module targets) would silently merge two documents' line sets.
    with_rid = docs.withColumn(
        "_rid",
        F.md5(F.concat_ws(chr(0), F.col(source_col), F.col(text_col))),
    )
    doc_totals = with_rid.groupBy(source_col).agg(
        F.countDistinct("_rid").alias("_n_docs")
    )
    lines = with_rid.select(
        F.col(source_col).alias("_src"),
        "_rid",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    freq = (
        lines.filter(F.length("_line") <= max_line_len)
        # blank lines are paragraph structure, not site boilerplate
        .filter(F.trim("_line") != "")
        .select("_src", F.xxhash64(F.trim("_line")).alias("_fp"), "_rid")
        .distinct()
        .groupBy("_src", "_fp")
        .agg(F.count("*").alias("_df"))
        .join(
            F.broadcast(doc_totals.withColumnRenamed(source_col, "_src")), "_src"
        )
        .filter(
            (F.col("_df") >= min_docs) & (F.col("_df") / F.col("_n_docs") >= min_doc_frac)
        )
        .select("_src", "_fp")
    )
    # Re-filter each doc's lines against the frequent set. The frequent set
    # is tiny (boilerplate cardinality ~ sites x lines-per-template) ->
    # broadcast hash anti-join, no second shuffle of the corpus. Re-assembly
    # groups by _rid only and joins back to the docs, so a fully-stripped
    # document survives (as "") and duplicate rows stay distinct — the same
    # shape as strip_boilerplate_spans above.
    clean_col = f"{text_col}_clean"
    cleaned = (
        lines.withColumn(
            "_fp",
            # only lines eligible to vote may be stripped (null key never
            # matches): over-length and blank lines are kept unconditionally
            F.when(
                (F.length("_line") <= max_line_len) & (F.trim("_line") != ""),
                F.xxhash64(F.trim("_line")),
            ).otherwise(F.lit(None)),
        )
        .join(F.broadcast(freq), ["_src", "_fp"], "left_anti")
        # identical rows share a _rid and exploded their lines once EACH;
        # (_rid, _pos) distinct re-assembles the document once (a repeated
        # line at different positions within one doc survives — positions
        # differ)
        .select("_rid", "_pos", "_line")
        .distinct()
        .groupBy("_rid")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
            ).alias(clean_col)
        )
    )
    return (
        with_rid.join(cleaned, "_rid", "left")
        .withColumn(clean_col, F.coalesce(F.col(clean_col), F.lit("")))
        .drop("_rid")
    )
