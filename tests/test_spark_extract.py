"""End-to-end Spark extraction: golden span-sequence parity on reference
corpora (the north_rule invariant), media passthrough, skew repartition,
synthetic corpus determinism."""

from __future__ import annotations

import pytest
from conftest import needs_reference
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.rules import RuleBook
from adaptive_pdf_extractor_spark.operators.extract import (
    extract_documents,
    salted_repartition,
)
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
from adaptive_pdf_extractor_spark.sources import spark_io
import plumbing

DATASETS = "/root/reference/data/fake/datasets"
RESULTS = "/root/reference/data/fake/results"
CACHES = "/root/reference/data/fake/caches"


def _parity_count(spark, name: str) -> tuple[int, int]:
    docs = plumbing.reference_corpus_df(spark, f"{DATASETS}/{name}.json")
    book = RuleBook.from_rows(
        corpus_mod.reference_cache_to_rule_rows(f"{CACHES}/{name}_cache.json")
    )
    out = extract_documents(salted_repartition(docs, 8), book)
    golden = plumbing.golden_output_df(
        spark, f"{DATASETS}/{name}.json", f"{RESULTS}/{name}_with_cache_result.json"
    )
    joined = out.alias("a").join(golden.alias("b"), "doc_id", "inner")
    total = joined.count()
    equal = joined.filter(plumbing.spans_equal_expr()).count()
    return equal, total


@needs_reference
@pytest.mark.parametrize(
    "name,n",
    [
        ("fake_dataset_1000samples_seed_1", 1000),
        ("fake_dataset_1000samples_seed_2", 1000),
        ("fake_dataset_1000samples_seed_3", 1000),
        ("fake_dataset_2000samples_seed_1", 2000),
        ("fake_dataset_3000samples_seed_1", 3000),
    ],
)
def test_golden_span_parity(spark, name, n):
    """All 5 shipped corpora (8,000 docs) — the CLAUDE.md invariant is only
    real if the suite pins every corpus, not just two of them."""
    equal, total = _parity_count(spark, name)
    assert total == n
    assert equal == total, f"span parity {equal}/{total}"


def test_extraction_output_shape_and_metrics(spark, learned_rules):
    # 200 docs held out of the learned_rules training range (0..399)
    docs = plumbing.input_df_from_rows(
        spark, corpus_mod.synth_rows(seed=1, start=1000, count=200)
    )
    book = RuleBook.from_rows(learned_rules)
    out = extract_documents(docs, book).cache()
    try:
        # every doc emits 8 field spans + its media spans
        bad = out.filter(
            F.size("spans") != 8 + F.col("n_media_spans")
        ).count()
        assert bad == 0
        # hits cover all fields, path is rule/none
        assert out.filter(F.size("hits") != 8).count() == 0
        paths = {
            r["path"]
            for r in out.select(F.explode("hits").alias("h"))
            .select(F.col("h.path").alias("path"))
            .distinct()
            .collect()
        }
        assert paths <= {"rule", "none"}
        # weight aggregation input: every resolved hit carries a rule_id >= 0
        n_rule_hits = (
            out.select(F.explode("hits").alias("h"))
            .filter((F.col("h.path") == "rule") & (F.col("h.rule_id") < 0))
            .count()
        )
        assert n_rule_hits == 0
        # media refs preserved verbatim and in order
        row = out.filter(F.col("n_media_spans") > 0).first()
        media = [s for s in sorted(row["spans"], key=lambda s: s["offset"]) if s["kind"] == "media"]
        assert all(m["media_ref"].startswith(f"media://{row['doc_id']}/") for m in media)
        assert [m["media_ref"].rsplit("/", 1)[1] for m in media] == [
            str(i) for i in range(len(media))
        ]
    finally:
        out.unpersist()


def test_salted_repartition_balance(spark):
    docs = spark_io.synthetic_corpus_df(spark, seed=3, count=2000, partitions=4)
    parts = salted_repartition(docs, 16)
    sizes = parts.rdd.glom().map(len).collect()
    assert len(sizes) == 16
    assert min(sizes) > 0
    # hashed doc_id should spread uniformly: no partition > 2x mean
    assert max(sizes) < 2 * (sum(sizes) / len(sizes))


def test_synthetic_corpus_deterministic_across_parallelism(spark):
    a = spark_io.synthetic_corpus_df(spark, seed=11, count=300, partitions=2)
    b = spark_io.synthetic_corpus_df(spark, seed=11, count=300, partitions=7)
    ja = {r["doc_id"]: r for r in a.collect()}
    jb = {r["doc_id"]: r for r in b.collect()}
    assert ja.keys() == jb.keys()
    for k in ja:
        assert ja[k] == jb[k]


@needs_reference
def test_extraction_accuracy_on_synthetic(spark):
    """Rules learned on the reference corpus transfer to our synthetic
    corpus (same template family): accuracy must be high, proving the
    generator emits the same document shape the rules expect."""
    docs = spark_io.synthetic_corpus_df(spark, seed=5, count=500, partitions=4)
    book = RuleBook.from_rows(
        corpus_mod.reference_cache_to_rule_rows(
            f"{CACHES}/fake_dataset_1000samples_seed_1_cache.json"
        )
    )
    out = extract_documents(docs, book)
    # field-level accuracy vs expected
    ext = out.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter(F.col("s.kind") != "media").select(
        "doc_id", F.col("s.kind").alias("field"), F.col("s.text").alias("value")
    )
    exp = docs.select("doc_id", F.explode("expected").alias("e")).select(
        "doc_id", F.col("e.name").alias("field"), F.col("e.value").alias("expected")
    )
    j = ext.join(exp, ["doc_id", "field"])
    total = j.count()
    correct = j.filter(
        (F.col("value") == F.col("expected"))
        | (F.col("value").isNull() & F.col("expected").isNull())
    ).count()
    assert total == 500 * 8
    assert correct / total > 0.93, f"accuracy {correct/total:.3f}"
