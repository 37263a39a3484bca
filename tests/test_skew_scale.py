"""Skew + scale behavior: heavy-tailed document sizes through the salted
repartition + extraction path, and miner convergence at 10k docs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.rules import RuleBook
from adaptive_pdf_extractor_spark.operators.extract import (
    extract_documents,
    salted_repartition,
)
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
from adaptive_pdf_extractor_spark.sources import spark_io
import plumbing


def test_giant_document_skew(spark, learned_rules):
    """A few 1 MB documents among 500 normal ones: extraction stays correct
    (giant docs just have huge noise prefixes) and the salted repartition
    spreads bytes, not only row counts."""
    rows = corpus_mod.synth_rows(seed=83, start=0, count=500)
    # plant 5 giants: 1MB of noise prepended to a normal doc's text
    for k in range(5):
        doc_id = f"giant/{k:04d}"
        rec = corpus_mod.synth_record(seed=83, doc_id=doc_id)
        noise = ("lorem ipsum dolor " * 60000)[: 1 << 20]
        rows.append(
            {
                "doc_id": doc_id,
                "spans": corpus_mod.text_to_spans(doc_id, noise + "\n" + rec["pdf_text"]),
                "label": rec["label"],
                "schema_fields": rec["schema_fields"],
                "expected": rec["expected"],
            }
        )
    docs = salted_repartition(plumbing.input_df_from_rows(spark, rows), 8)
    book = RuleBook.from_rows(learned_rules)
    out = extract_documents(docs, book).cache()
    assert out.count() == 505

    # giants still extract their fields (rules anchor on labels, DOTALL
    # search scans past the noise)
    giants = out.filter(F.col("doc_id").startswith("giant/"))
    g_hits = giants.select(
        F.sum(F.size(F.filter("hits", lambda h: h["path"] == F.lit("rule"))))
    ).first()[0]
    assert g_hits >= 5 * 6  # most fields resolve on giant docs too

    # bytes spread: no partition carries more than 2 giants
    per_part = (
        out.filter(F.col("doc_id").startswith("giant/"))
        .groupBy("part_id")
        .count()
        .collect()
    )
    assert max(r["count"] for r in per_part) <= 3


@pytest.mark.slow
def test_miner_convergence_at_10k(spark, tmp_path):
    from adaptive_pdf_extractor_spark.plans.pipeline import (
        ExtractionPipeline,
        PipelineConfig,
    )

    docs = spark_io.synthetic_corpus_df(spark, seed=97, count=10_000, partitions=8)
    pipe = ExtractionPipeline(
        spark,
        str(tmp_path / "run10k"),
        PipelineConfig(max_rounds=4, num_partitions=8, miner_sample_mod=4),
    )
    out = pipe.run(docs, initial_rules_rows=[], write_output=False)
    rounds = pipe.manifest.state["rounds"]
    unres = [r["metrics"]["unresolved_fields"] for r in rounds]
    assert unres == sorted(unres, reverse=True)
    assert rounds[-1]["n_new_rules"] == 0  # converged within budget
    assert out.count() == 10_000
