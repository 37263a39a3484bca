"""The relational (join + window) formulation of first-match must equal the
fused in-UDF operator — SURVEY §2.3 cross-check — and the evaluation
operators reproduce the reference's published numbers."""

from __future__ import annotations

from conftest import needs_reference
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.rules import RuleBook
from adaptive_pdf_extractor_spark.operators.extract import extract_documents
from adaptive_pdf_extractor_spark.plans.evaluate import field_accuracy
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
import plumbing
from specs import first_match_relational, rules_to_df

DATASETS = "/root/reference/data/fake/datasets"
RESULTS = "/root/reference/data/fake/results"
CACHES = "/root/reference/data/fake/caches"
NAME = "fake_dataset_1000samples_seed_1"


def test_relational_equals_fused(spark, learned_rules):
    docs = plumbing.input_df_from_rows(
        spark, corpus_mod.synth_rows(seed=1, start=0, count=400)
    ).cache()
    book = RuleBook.from_rows(learned_rules)
    fused = (
        extract_documents(docs, book)
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "media")
        .select("doc_id", F.col("s.kind").alias("field"), F.col("s.text").alias("value"))
    )
    relational = first_match_relational(docs, rules_to_df(spark, book)).select(
        "doc_id", "field", "value"
    )
    a = {(r["doc_id"], r["field"]): r["value"] for r in fused.collect()}
    b = {(r["doc_id"], r["field"]): r["value"] for r in relational.collect()}
    # relational formulation emits only resolved (doc, field) pairs;
    # fused emits all pairs with null for unresolved
    for k, v in b.items():
        assert a[k] == v, k
    unresolved = {k for k, v in a.items() if v is None}
    resolved_nulls = {k for k, v in b.items() if v is None}
    # every fused-null is either unresolved (absent in b) or a validated
    # empty capture (null in b too)
    for k in unresolved - set(b):
        assert k not in resolved_nulls or b[k] is None


@needs_reference
def test_evaluation_reproduces_reference_numbers(spark):
    """Full seed-1 corpus with the converged cache: parity 100%, accuracy
    98.26%, perfect-doc rate 86.6% — the reference's published benchmark
    (BASELINE.md)."""
    docs = plumbing.reference_corpus_df(spark, f"{DATASETS}/{NAME}.json")
    book = RuleBook.from_rows(
        corpus_mod.reference_cache_to_rule_rows(f"{CACHES}/{NAME}_cache.json")
    )
    out = extract_documents(docs, book).select("doc_id", "spans").cache()
    golden = plumbing.golden_output_df(
        spark, f"{DATASETS}/{NAME}.json", f"{RESULTS}/{NAME}_with_cache_result.json"
    )
    p = plumbing.span_parity(out, golden)
    assert p.total == 1000 and p.parity == 1.0

    acc = field_accuracy(out, docs)
    assert acc.fields == 8000
    assert abs(acc.accuracy - 0.9826) < 0.0005
    assert acc.docs == 1000
    assert abs(acc.perfect_docs / acc.docs - 0.866) < 0.002


@needs_reference
def test_direct_only_beats_reference_llm_only_benchmark(spark):
    """The reference's --no-use-cache mode (every field answered by the
    LLM, 98.90% accuracy, README.md:32): the deterministic direct extractor
    alone — empty rule set — must match or beat it on the same corpus."""
    from adaptive_pdf_extractor_spark.operators import miner
    from adaptive_pdf_extractor_spark.operators.extract import extract_documents
    from adaptive_pdf_extractor_spark.plans.evaluate import field_accuracy

    docs = plumbing.reference_corpus_df(
        spark, f"{DATASETS}/fake_dataset_1000samples_seed_1.json"
    )
    out = extract_documents(
        docs, RuleBook.from_rows([]), direct_extractor=miner.direct_extract_series
    )
    acc = field_accuracy(out.select("doc_id", "spans"), docs)
    assert acc.docs == 1000 and acc.fields == 8000
    assert acc.accuracy >= 0.9890, f"direct-only accuracy {acc.accuracy:.4f}"
