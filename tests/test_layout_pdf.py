"""Layout analysis (XY-cut, header/footer, boilerplate strip) and the PDF
byte-stream source."""

from __future__ import annotations

import pytest

from adaptive_pdf_extractor_spark.operators.layout import (
    Block,
    boilerplate_strip,
    classify_header_footer,
    reading_order_text,
    segment_blocks,
    xy_cut,
)
from adaptive_pdf_extractor_spark.sources import pdf as pdf_mod
import plumbing


def B(text, x0, y0, x1, y1, page=0):
    return Block(text=text, x0=x0, y0=y0, x1=x1, y1=y1, page=page)


# ---------------------------------------------------------------------------
# XY-cut
# ---------------------------------------------------------------------------


def test_xy_cut_two_columns():
    """Classic two-column page: left column read fully before right."""
    blocks = [
        B("L1", 0, 0, 40, 10),
        B("R1", 60, 0, 100, 10),
        B("L2", 0, 20, 40, 30),
        B("R2", 60, 20, 100, 30),
    ]
    ordered = [b.text for b in xy_cut(blocks, min_gap=5)]
    assert ordered == ["L1", "L2", "R1", "R2"]


def test_xy_cut_title_then_columns():
    blocks = [
        B("TITLE", 0, 0, 100, 10),
        B("L1", 0, 30, 40, 40),
        B("R1", 60, 30, 100, 40),
        B("L2", 0, 50, 40, 60),
    ]
    ordered = [b.text for b in xy_cut(blocks, min_gap=5)]
    assert ordered == ["TITLE", "L1", "L2", "R1"]


def test_xy_cut_no_gaps_falls_back_to_position_sort():
    blocks = [B("b", 0, 5, 10, 15), B("a", 0, 0, 10, 10)]
    assert [b.text for b in xy_cut(blocks, min_gap=1)] == ["a", "b"]


def test_xy_cut_single_and_empty():
    assert xy_cut([]) == []
    one = [B("x", 0, 0, 1, 1)]
    assert xy_cut(one) == one


# ---------------------------------------------------------------------------
# segmentation + header/footer
# ---------------------------------------------------------------------------


def test_segment_blocks_merges_adjacent_lines():
    lines = [
        B("line1", 0, 0, 50, 10),
        B("line2", 0, 11, 50, 21),   # gap 1 -> same block
        B("para2", 0, 50, 50, 60),   # gap 29 -> new block
    ]
    blocks = segment_blocks(lines, line_gap=2.0)
    assert [b.text for b in blocks] == ["line1\nline2", "para2"]


def test_classify_header_footer():
    blocks = [
        B("HEADER", 0, 0, 100, 5),
        B("body", 0, 100, 100, 110),
        B("FOOTER", 0, 792, 100, 800),
    ]
    tags = dict(
        (b.text, t) for b, t in classify_header_footer(blocks, page_height=800)
    )
    assert tags == {"HEADER": "header", "body": "body", "FOOTER": "footer"}


def test_reading_order_identity_on_single_block():
    """SURVEY §2.11 invariant: single-block docs pass through verbatim."""
    text = "Nome João\nInscricao 123"
    assert reading_order_text([B(text, 0, 0, 100, 100)], page_height=800) == text
    assert reading_order_text([], page_height=800) == ""


def test_reading_order_strips_header_footer():
    blocks = [
        B("SITE NAV", 0, 0, 100, 5),
        B("content A", 0, 100, 100, 110),
        B("content B", 0, 200, 100, 210),
        B("page 3 of 99", 0, 790, 100, 800),
    ]
    out = reading_order_text(blocks, page_height=800)
    assert out == "content A\ncontent B"


# ---------------------------------------------------------------------------
# fake-PDF container round-trip + distributed ingestion
# ---------------------------------------------------------------------------


def test_fake_pdf_roundtrip(tmp_path):
    blocks = [
        B("HEADER", 0, 0, 100, 5),
        B("Nome João Inscricao 123456", 0, 100, 100, 120),
        B("FOOTER", 0, 780, 100, 800),
    ]
    data = plumbing.make_fake_pdf(blocks, media_refs=["media://img/1"], page_height=800)
    parsed_blocks, media, height = pdf_mod.parse_pdf_bytes(data)
    assert parsed_blocks == blocks
    assert media == ["media://img/1"]
    row = pdf_mod.pdf_bytes_to_span_rows("d1", data)
    texts = [s["text"] for s in row["spans"] if s["kind"] == "text"]
    assert "".join(texts) == "Nome João Inscricao 123456"
    media_spans = [s for s in row["spans"] if s["kind"] == "media"]
    assert [m["media_ref"] for m in media_spans] == ["media://img/1"]


def test_parse_real_pdf_without_lib_raises():
    with pytest.raises((NotImplementedError, Exception)):
        pdf_mod.parse_pdf_bytes(b"%PDF-1.7 garbage")
    with pytest.raises(ValueError):
        pdf_mod.parse_pdf_bytes(b"not a pdf at all")


def test_read_pdf_corpus_distributed(spark, tmp_path):
    for i in range(6):
        blocks = [
            B("COMMON HEADER", 0, 0, 100, 5),
            B(f"doc body {i}", 0, 100, 100, 120),
        ]
        (tmp_path / f"doc{i}.fpdf").write_bytes(
            plumbing.make_fake_pdf(blocks, page_height=800)
        )
    df = pdf_mod.read_pdf_corpus(spark, str(tmp_path / "*.fpdf"))
    rows = df.collect()
    assert len(rows) == 6
    texts = {
        "".join(s["text"] for s in r["spans"] if s["kind"] == "text") for r in rows
    }
    assert texts == {f"doc body {i}" for i in range(6)}  # header stripped


# ---------------------------------------------------------------------------
# corpus-frequency boilerplate strip (distributed)
# ---------------------------------------------------------------------------


def test_strip_boilerplate_spans(spark):
    """Span-level strip inside the pipeline's input model: repeated text
    spans removed per label, media + unique spans kept, offsets renumbered,
    identity on clean corpora."""
    from adaptive_pdf_extractor_spark.operators.layout import (
        strip_boilerplate_spans,
    )
    from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod

    rows = corpus_mod.synth_rows(seed=77, start=0, count=30)
    # inject a boilerplate text span at the front of every doc + keep media
    for r in rows:
        spans = [{"kind": "text", "text": "SITE NAVIGATION BAR", "media_ref": None, "offset": 0}]
        for s in r["spans"]:
            s = dict(s)
            s["offset"] = len(spans)
            spans.append(s)
        r["spans"] = spans
    docs = plumbing.input_df_from_rows(spark, rows)
    out = strip_boilerplate_spans(docs, min_doc_frac=0.5, min_docs=5)
    got = {r["doc_id"]: r for r in out.collect()}
    for r in rows:
        spans = got[r["doc_id"]]["spans"]
        assert all(s["text"] != "SITE NAVIGATION BAR" for s in spans)
        assert [s["offset"] for s in spans] == list(range(len(spans)))
        # original content (minus the injected span) intact, media preserved
        assert corpus_mod.assemble_text([dict(s.asDict()) for s in spans]) == \
            corpus_mod.assemble_text(r["spans"][1:])
        assert len([s for s in spans if s["kind"] == "media"]) == len(
            [s for s in r["spans"] if s["kind"] == "media"]
        )
    # identity on a clean corpus
    clean_rows = corpus_mod.synth_rows(seed=78, start=0, count=20)
    clean = plumbing.input_df_from_rows(spark, clean_rows)
    out2 = {r["doc_id"]: r for r in strip_boilerplate_spans(clean).collect()}
    for r in clean_rows:
        assert [dict(s.asDict()) for s in out2[r["doc_id"]]["spans"]] == r["spans"]


def test_pipeline_with_boilerplate_strip(spark, tmp_path):
    """End-to-end: boilerplate pre-stage on, extraction accuracy unaffected
    (the injected spans are noise the rules never matched anyway)."""
    from adaptive_pdf_extractor_spark.plans.pipeline import (
        ExtractionPipeline,
        PipelineConfig,
    )
    from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod

    rows = corpus_mod.synth_rows(seed=79, start=0, count=120)
    for r in rows:
        r["spans"] = (
            [{"kind": "text", "text": "COPYRIGHT 2026 ACME\n", "media_ref": None, "offset": 0}]
            + [dict(s, offset=s["offset"] + 1) for s in r["spans"]]
        )
    docs = plumbing.input_df_from_rows(spark, rows)
    pipe = ExtractionPipeline(
        spark,
        str(tmp_path / "bp"),
        PipelineConfig(max_rounds=2, num_partitions=4, strip_boilerplate=True),
    )
    out = pipe.run(docs, initial_rules_rows=[], write_output=False)
    assert out.count() == 120
    from adaptive_pdf_extractor_spark.plans.evaluate import field_accuracy

    acc = field_accuracy(out, docs)
    assert acc.accuracy > 0.95
    # strip-rate metric recorded (north_star metric list)
    bp = pipe.manifest.state["boilerplate"]
    assert bp["spans_before"] > bp["spans_after"]
    assert 0 < bp["strip_rate"] < 0.5


def test_boilerplate_strip(spark):
    rows = []
    for i in range(20):
        body = f"unique content {i}\nsecond line {i * 7}"
        rows.append(
            {
                "doc_id": i,
                "source": "siteA",
                "text": f"SITE A NAVBAR\n{body}\nCOPYRIGHT SITE A",
            }
        )
    for i in range(20, 30):
        rows.append(
            {"doc_id": i, "source": "siteB", "text": f"other {i}\nSITE A NAVBAR"}
        )
    df = spark.createDataFrame(rows)
    out = boilerplate_strip(df, min_doc_frac=0.6, min_docs=5)
    got = {r["doc_id"]: r["text_clean"] for r in out.collect()}
    # siteA boilerplate removed from siteA docs
    assert got[0] == "unique content 0\nsecond line 0"
    assert "NAVBAR" not in got[5] and "COPYRIGHT" not in got[5]
    # the same line on siteB survives there (per-source thresholds), because
    # siteB has 10 docs and the line appears in all -> stripped there too
    assert "NAVBAR" not in got[25]
    # unique lines intact
    assert got[25] == "other 25"


def test_boilerplate_strip_keeps_fully_stripped_and_duplicate_docs(spark):
    """A document whose every line is boilerplate must survive as "" (not
    vanish), and two rows identical in all columns must stay two rows."""
    rows = []
    for i in range(10):
        rows.append(
            {"doc_id": i, "source": "s", "text": f"NAV\nbody {i}\nFOOTER"}
        )
    # doc made of nothing but boilerplate
    rows.append({"doc_id": 100, "source": "s", "text": "NAV\nFOOTER"})
    # two fully identical rows (same doc_id, source, text)
    rows.append({"doc_id": 200, "source": "s", "text": "NAV\ndup body\nFOOTER"})
    rows.append({"doc_id": 200, "source": "s", "text": "NAV\ndup body\nFOOTER"})
    df = spark.createDataFrame(rows)
    out = boilerplate_strip(df, min_doc_frac=0.6, min_docs=5).collect()
    assert len(out) == len(rows)  # no row lost, none collapsed
    by_id = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r["text_clean"])
    assert by_id[100] == [""]  # fully-stripped doc survives, empty
    assert by_id[200] == ["dup body", "dup body"]
    assert by_id[0] == ["body 0"]


def test_reading_order_pages_do_not_interleave():
    """Coordinates are page-local: page 1's low-y blocks must not jump
    ahead of page 0's high-y blocks."""
    blocks = [
        Block(text="p0-bottom", x0=0, y0=500, x1=100, y1=510, page=0),
        Block(text="p1-top", x0=0, y0=100, x1=100, y1=110, page=1),
        Block(text="p0-top", x0=0, y0=100, x1=100, y1=110, page=0),
    ]
    assert reading_order_text(blocks) == "p0-top\np0-bottom\np1-top"


def test_boilerplate_strip_never_touches_blank_or_overlength_lines(spark):
    """Blank lines are paragraph structure; over-length lines were not
    eligible to vote — neither may be stripped."""
    long_pad = "NAV" + " " * 300  # trims to frequent 'NAV' but len > 200
    rows = [
        {
            "doc_id": i,
            "source": "s",
            "text": f"NAV\n\npara one {i}\n\npara two {i}\n{long_pad}",
        }
        for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    out = {r["doc_id"]: r["text_clean"] for r in
           boilerplate_strip(df, min_doc_frac=0.6, min_docs=5).collect()}
    # 'NAV' stripped; blank lines and the over-length padded line survive
    assert out[0] == f"\npara one 0\n\npara two 0\n{long_pad}"
