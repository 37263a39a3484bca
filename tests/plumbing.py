"""Test plumbing: loaders, fixture helpers and parity scoring that only
tests import.

The reference's JSON datasets and result files convert into the engine's
span tables here (the golden side of span parity), engine rules and
outputs export back into the reference's JSON shapes, and small helpers
make the fake-PDF container and a streaming span-table source.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.operators.layout import Block
from adaptive_pdf_extractor_spark.sources.corpus import (
    INPUT_DDL,
    OUTPUT_DDL,
    load_reference_json,
    text_to_spans,
)
from adaptive_pdf_extractor_spark.sources.pdf import FAKE_MAGIC


def input_df_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Local-list constructor of an input span table (small corpora)."""
    return spark.createDataFrame(rows, schema=INPUT_DDL)


# ---------------------------------------------------------------------------
# Reference corpus -> input rows / golden rows
# ---------------------------------------------------------------------------


def reference_doc_id(corpus: str, idx0: int) -> str:
    """Stable doc_id for the idx0-th (0-based) record of a reference corpus."""
    return f"{corpus}/{idx0:06d}"


def reference_dataset_to_rows(
    path: str, corpus: Optional[str] = None, pdf_loader=None
) -> list[dict]:
    """Convert a reference dataset JSON into engine input rows.

    Fake datasets inline ``pdf_text``; the real dataset
    (data/real/dataset.json, reference src/data.py:117) instead names a
    ``pdf_path`` relative to the JSON. Pass ``pdf_loader`` (e.g.
    ``sources.pdf.load_pdf_text``) to decode those documents; without a
    loader the row keeps empty text (schema/label/doc_id still real — the
    decode tier is import-gated on pypdf, sources/pdf.py)."""
    corpus = corpus or os.path.splitext(os.path.basename(path))[0]
    rows = []
    for i, rec in enumerate(load_reference_json(path)):
        doc_id = reference_doc_id(corpus, i)
        schema = rec.get("extraction_schema", {})
        expected = rec.get("expected_answer")
        text = rec.get("pdf_text")
        if text is None and rec.get("pdf_path") and pdf_loader is not None:
            text = pdf_loader(os.path.join(os.path.dirname(path), rec["pdf_path"]))
        rows.append(
            {
                "doc_id": doc_id,
                "spans": text_to_spans(doc_id, text or ""),
                "label": rec.get("label", ""),
                "schema_fields": [
                    {"name": k, "description": v} for k, v in schema.items()
                ],
                "expected": (
                    None
                    if expected is None
                    else [{"name": k, "value": v} for k, v in expected.items()]
                ),
            }
        )
    return rows


def reference_corpus_df(
    spark: SparkSession, dataset_path: str, corpus: Optional[str] = None
) -> DataFrame:
    """Ingest one reference JSON dataset as an input span table."""
    return input_df_from_rows(
        spark, reference_dataset_to_rows(dataset_path, corpus=corpus)
    )


def media_spans(spans: Iterable[dict]) -> list[dict]:
    """Media spans in offset order (pass-through payload)."""
    return [dict(s) for s in sorted(spans, key=lambda s: s["offset"]) if s["kind"] == "media"]


def output_spans(
    field_values: list[tuple[str, Optional[str]]], media: Iterable[dict]
) -> list[dict]:
    """Build the output span array: field spans in schema order, then media
    passthrough in original order, offsets renumbered 0..n-1."""
    spans = [
        {"kind": fname, "text": value, "media_ref": None, "offset": i}
        for i, (fname, value) in enumerate(field_values)
    ]
    base = len(spans)
    for j, m in enumerate(sorted(media, key=lambda s: s["offset"])):
        spans.append(
            {"kind": "media", "text": None, "media_ref": m["media_ref"], "offset": base + j}
        )
    return spans


def golden_output_rows(
    dataset_path: str, result_path: str, corpus: Optional[str] = None
) -> list[dict]:
    """Derive golden output rows from a reference result file
    (``[{idx,label,expected,extracted}]`` — reference src/main.py:338-345)
    plus the media spans of the converted input (media passthrough is part
    of the engine contract but absent from the reference's output shape)."""
    corpus = corpus or os.path.splitext(os.path.basename(dataset_path))[0]
    dataset = load_reference_json(dataset_path)
    results = load_reference_json(result_path)
    if len(dataset) != len(results):
        # zip would silently drop the tail and let a parity check pass
        # vacuously for the missing documents
        raise ValueError(
            f"dataset ({len(dataset)} docs) and result file "
            f"({len(results)} entries) disagree — truncated reference run?"
        )
    rows = []
    for i, (rec, res) in enumerate(zip(dataset, results)):
        doc_id = reference_doc_id(corpus, i)
        media = media_spans(text_to_spans(doc_id, rec.get("pdf_text", "")))
        # Engine output contract: field spans in extraction-schema order.
        # The reference result dict's key order is a pipeline artifact
        # (slow-path fields are appended after fast-path ones,
        # src/main.py:262) — the semantic content is the mapping, so the
        # golden span sequence is derived in schema order.
        field_values = [
            (fname, res["extracted"].get(fname))
            for fname in rec.get("extraction_schema", res["extracted"])
        ]
        rows.append({"doc_id": doc_id, "spans": output_spans(field_values, media)})
    return rows


def golden_output_df(
    spark: SparkSession, dataset_path: str, result_path: str, corpus: Optional[str] = None
) -> DataFrame:
    return spark.createDataFrame(
        golden_output_rows(dataset_path, result_path, corpus=corpus),
        schema=OUTPUT_DDL,
    )


# ---------------------------------------------------------------------------
# Golden span parity
# ---------------------------------------------------------------------------


def spans_equal_expr() -> "F.Column":
    """Order-sensitive span-sequence equality predicate (kind, text,
    media_ref, order) between columns ``a.spans`` and ``b.spans`` — the
    north_rule's per-row invariant. Runs JVM-side (no UDF)."""
    norm = lambda side: F.expr(
        f"transform(array_sort({side}.spans, (l, r) -> l.offset - r.offset),"
        " s -> struct(s.kind as kind, s.text as text, s.media_ref as media_ref))"
    )
    return norm("a") == norm("b")


def span_parity(output: DataFrame, golden: DataFrame) -> Row:
    """Span-sequence equality (kind, text, media_ref, order) per doc_id —
    the north_rule invariant. Returns Row(total, equal, parity).

    ``total`` is the GOLDEN doc count (left join from golden): an output
    that dropped documents scores those as unequal instead of silently
    shrinking the denominator — an empty output reads as 0.0 parity, never
    1.0. Duplicate output doc_ids would multiply golden rows through the
    join (inflating total AND letting one equal copy mask an unequal one),
    so they fail loudly instead of skewing the score."""
    dup_ids = (
        output.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    if dup_ids:
        raise ValueError(
            f"span_parity: output has {dup_ids} duplicate doc_id(s); parity "
            "is defined over one output row per document"
        )
    joined = golden.alias("b").join(output.alias("a"), "doc_id", "left")
    equal_expr = F.when(
        F.col("a.spans").isNotNull() & spans_equal_expr(), 1
    ).otherwise(0)
    agg = joined.agg(
        F.count("*").alias("total"),
        F.sum(equal_expr).alias("equal"),
    ).first()
    total, equal = agg["total"], agg["equal"] or 0
    return Row(total=total, equal=equal, parity=(equal / total if total else 0.0))


# ---------------------------------------------------------------------------
# Engine rules / output -> the reference's JSON shapes
# ---------------------------------------------------------------------------


def rule_rows_to_reference_cache(rows: list[dict]) -> dict:
    """Export engine rules in the reference's cache-JSON shape
    ``{label: {field: [{rule:{rule,validation_regex}, weight}]}}``
    (reference src/cache.py:369-378), priority-ordered (weight desc,
    rule_seq) the way the reference persists head->tail. Round-trips with
    ``corpus.reference_cache_to_rule_rows``, so rules learned here can seed
    the reference and vice versa."""
    out: dict = {}
    ordered = sorted(
        rows, key=lambda r: (r["label"], r["field"], -int(r["weight"]), int(r["rule_seq"]))
    )
    for r in ordered:
        out.setdefault(r["label"], {}).setdefault(r["field"], []).append(
            {
                "rule": {
                    "rule": r["rule"],
                    "validation_regex": r["validation_regex"],
                },
                "weight": int(r["weight"]),
            }
        )
    return out


def save_reference_cache(rows: list[dict], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(rule_rows_to_reference_cache(rows), f, ensure_ascii=False, indent=2)


def output_rows_to_reference_results(
    output_rows: list[dict], input_rows: list[dict]
) -> list[dict]:
    """Export engine output in the reference's results-JSON shape
    ``[{idx, label, expected, extracted}]`` (reference src/main.py:338-345,
    1-based idx) so reference-side tooling can consume engine output
    directly. Field order follows the schema (the engine contract)."""
    by_id = {r["doc_id"]: r for r in input_rows}
    results = []
    for i, out in enumerate(
        sorted(output_rows, key=lambda r: r["doc_id"]), start=1
    ):
        src = by_id[out["doc_id"]]
        extracted = {
            s["kind"]: s["text"]
            for s in sorted(out["spans"], key=lambda s: s["offset"])
            if s["kind"] != "media"
        }
        expected = {
            e["name"]: e["value"] for e in (src.get("expected") or [])
        }
        results.append(
            {
                "idx": i,
                "label": src.get("label", ""),
                "expected": expected,
                "extracted": extracted,
            }
        )
    return results


# ---------------------------------------------------------------------------
# Fixture helpers
# ---------------------------------------------------------------------------


def make_fake_pdf(
    blocks: list[Block],
    media_refs: Optional[list[str]] = None,
    page_height: float = 800.0,
) -> bytes:
    """Serialize positioned blocks as a deterministic fake-PDF container."""
    payload = {
        "page_height": page_height,
        "blocks": [
            {
                "text": b.text,
                "x0": b.x0,
                "y0": b.y0,
                "x1": b.x1,
                "y1": b.y1,
                "page": b.page,
            }
            for b in blocks
        ],
        "media": media_refs or [],
    }
    return FAKE_MAGIC + json.dumps(payload, ensure_ascii=False).encode("utf-8")


def file_stream_source(
    spark: SparkSession, path: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """Span-table parquet directory as a stream (the Iceberg-shaped landing
    zone pattern: writers append files, the extractor tails them)."""
    reader = spark.readStream.schema(INPUT_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def placements(monkeypatch):
    """Yield the name of each placement of the curation plans' MinHash
    pair stage, with ``dedup.BOUND`` patched to select it: ``spark``
    (``BOUND`` 0 sends every input to the Spark plan) and ``driver`` (the
    default ``BOUND``, which covers the small inputs of the tests)."""
    from adaptive_pdf_extractor_spark.operators import dedup

    default = dedup.BOUND
    for name, bound in (("spark", 0), ("driver", default)):
        monkeypatch.setattr(dedup, "BOUND", bound)
        yield name
