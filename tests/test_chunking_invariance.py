"""Span-chunking invariance: HOW a document's text is split into text spans
(chunk boundaries, media interleaving) must never affect extraction output —
only the assembled text matters. This is what makes the span model safe to
re-chunk at ingest time (different writers, different chunk sizes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.rules import RuleBook
from adaptive_pdf_extractor_spark.operators.extract import extract_documents
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
import plumbing


def _variants(doc_id: str, text: str) -> list[list[dict]]:
    """Same text, three chunkings: single span, tiny chunks, default."""
    single = [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
    tiny = []
    for i in range(0, max(len(text), 1), 7):
        tiny.append(
            {"kind": "text", "text": text[i : i + 7], "media_ref": None,
             "offset": len(tiny)}
        )
    default = corpus_mod.text_to_spans(doc_id, text, n_media=2)
    return [single, tiny or single, default]


def test_extraction_invariant_under_rechunking(spark, learned_rules):
    book = RuleBook.from_rows(learned_rules)
    recs = [corpus_mod.synth_record(seed=71, doc_id=f"v/{i}") for i in range(40)]
    rows = []
    for v in range(3):
        for i, rec in enumerate(recs):
            doc_id = f"var{v}/{i:04d}"
            spans = _variants(doc_id, rec["pdf_text"])[v]
            rows.append(
                {
                    "doc_id": doc_id,
                    "spans": spans,
                    "label": rec["label"],
                    "schema_fields": rec["schema_fields"],
                    "expected": rec["expected"],
                }
            )
    docs = plumbing.input_df_from_rows(spark, rows)
    out = extract_documents(docs, book)
    flat = (
        out.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "media")
        .select("doc_id", "s.kind", "s.text")
        .collect()
    )
    by_variant: dict[str, dict] = {}
    for r in flat:
        v, i = r["doc_id"].split("/")
        by_variant.setdefault(i, {}).setdefault(v, {})[r["kind"]] = r["text"]
    for i, variants in by_variant.items():
        assert variants["var0"] == variants["var1"] == variants["var2"], i
