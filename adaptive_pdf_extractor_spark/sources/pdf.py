"""Batched PDF byte-stream source.

North_star leg: ``spark.read.format("binaryFile")`` over PDF files ->
Arrow-batched pandas UDF parsing bytes -> positioned text blocks -> layout
stage (XY-cut + header/footer strip) -> interleaved span rows.

Decoder tiers (the container ships no PDF library, so real decoding is
import-gated — the Spark-side plumbing, schema, batching and layout are
real and tested):

1. ``%FAKEPDF`` — this engine's deterministic test container: magic bytes
   + JSON payload of positioned blocks and media refs, written by
   ``tests/plumbing.make_fake_pdf``. Exercises the whole path (bytes ->
   blocks -> XY-cut -> spans) hermetically.
2. ``%PDF`` with pypdf installed — single-page text extraction, one block
   per page (the reference's fidelity level: src/data.py:201-223, which
   asserts exactly one page and calls ``extract_text()``).
3. ``%PDF`` without pypdf — NotImplementedError, clearly labelled.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.layout import Block, reading_order_text
from .corpus import INPUT_DDL, text_to_spans

FAKE_MAGIC = b"%FAKEPDF"

try:  # pragma: no cover - exercised only where pypdf exists
    from pypdf import PdfReader as _PdfReader  # type: ignore
except ImportError:
    try:
        from PyPDF2 import PdfReader as _PdfReader  # type: ignore
    except ImportError:
        _PdfReader = None


def parse_pdf_bytes(data: bytes) -> tuple[list[Block], list[str], float]:
    """bytes -> (blocks, media_refs, page_height)."""
    if data.startswith(FAKE_MAGIC):
        payload = json.loads(data[len(FAKE_MAGIC):].decode("utf-8"))
        blocks = [Block(**b) for b in payload["blocks"]]
        return blocks, list(payload.get("media", [])), float(payload["page_height"])
    if data[:5] == b"%PDF-":
        if _PdfReader is None:
            raise NotImplementedError(
                "real PDF decoding requires pypdf/PyPDF2, not present in this "
                "environment; ship it with --py-files/images on a real cluster"
            )
        import io

        reader = _PdfReader(io.BytesIO(data))
        assert len(reader.pages) > 0, "PDF has no pages"
        text = "\n".join(page.extract_text() or "" for page in reader.pages)
        return [Block(text=text, x0=0, y0=0, x1=612, y1=792)], [], 792.0
    raise ValueError("unrecognized document container")


def load_pdf_text(path: str) -> str:
    """One local PDF file -> reading-order text (driver-side helper for the
    real dataset's ``pdf_path`` records, reference src/data.py:201-223).
    Raises NotImplementedError for real %PDF bytes when pypdf is absent."""
    with open(path, "rb") as f:
        data = f.read()
    blocks, _media, page_height = parse_pdf_bytes(data)
    return reading_order_text(blocks, page_height=page_height)


def pdf_bytes_to_span_rows(
    doc_id: str, data: bytes, label: str = "", schema_fields: Optional[list] = None
) -> dict:
    """One binary document -> one input-span-table row: parse, layout
    (XY-cut reading order + positional header/footer strip), chunk to text
    spans, append media spans."""
    blocks, media_refs, page_height = parse_pdf_bytes(data)
    text = reading_order_text(blocks, page_height=page_height)
    spans = text_to_spans(doc_id, text, n_media=0)
    base = len(spans)
    for j, ref in enumerate(media_refs):
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": base + j}
        )
    return {
        "doc_id": doc_id,
        "spans": spans,
        "label": label,
        "schema_fields": schema_fields or [],
        "expected": None,
    }


def read_pdf_corpus(
    spark: SparkSession,
    path_glob: str,
    label: str = "",
    schema_fields: Optional[list] = None,
) -> DataFrame:
    """Distributed ingestion: binaryFile scan -> Arrow-batched parse+layout.

    binaryFile gives (path, modificationTime, length, content); Spark
    parallelizes over files and prunes the content column when unused.
    """
    bin_df = spark.read.format("binaryFile").load(path_glob)

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.append(
                    pdf_bytes_to_span_rows(
                        path, bytes(content), label=label, schema_fields=schema_fields
                    )
                )
            yield pd.DataFrame(rows)

    return bin_df.select("path", "content").mapInPandas(parse_batches, schema=INPUT_DDL)
