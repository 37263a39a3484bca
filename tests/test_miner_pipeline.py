"""Rule miner + round-loop pipeline: convergence from an EMPTY rule set,
accuracy vs ground truth at/above the reference's own benchmark, and exact
checkpoint resume."""

from __future__ import annotations

import json

import pytest
from conftest import needs_reference
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.normalize import normalize_text
from adaptive_pdf_extractor_spark.operators import miner
from adaptive_pdf_extractor_spark.plans.pipeline import (
    ExtractionPipeline,
    PipelineConfig,
)
from adaptive_pdf_extractor_spark.sources import spark_io
import plumbing

DATASETS = "/root/reference/data/fake/datasets"


# ---------------------------------------------------------------------------
# miner core (pure)
# ---------------------------------------------------------------------------

FIELDS = ["nome", "inscricao", "seccional", "situacao"]


def _norm(t: str) -> str:
    return normalize_text(t)


def test_direct_extract_value_and_null():
    text = _norm("Nome\nJoão da Silva\nInscricao 123456\nSeccional\nSituacao Situação Regular")
    assert text == "Nome João da Silva Inscricao 123456 Seccional Situacao Situação Regular"
    assert miner.direct_extract_value(text, "nome", FIELDS) == "João da Silva"
    assert miner.direct_extract_value(text, "inscricao", FIELDS) == "123456"
    assert miner.direct_extract_value(text, "seccional", FIELDS) == ""  # null field


def test_direct_extract_simple():
    text = "Nome João Inscricao 123456 Seccional Situacao Situação Regular"
    assert miner.direct_extract_value(text, "nome", FIELDS) == "João"
    assert miner.direct_extract_value(text, "inscricao", FIELDS) == "123456"
    # null field: anchor immediately followed by another anchor
    assert miner.direct_extract_value(text, "seccional", FIELDS) == ""
    assert miner.direct_extract_value(text, "situacao", FIELDS) == "Situação Regular"
    # absent anchor -> None
    assert miner.direct_extract_value("no anchors here", "nome", FIELDS) is None
    assert miner.direct_extract_value(None, "nome", FIELDS) is None


def test_mine_field_rules_value_and_null():
    texts = [
        "Nome João Inscricao 123456 Seccional SP Situacao Situação Regular",
        "Nome Maria Clara Inscricao 9876543 Seccional RJ Situacao Situação Regular",
        "Inscricao 555555 Nome Situacao Situação Irregular Seccional MG",  # nome null
    ]
    mined = miner.mine_field_rules("l", "nome", FIELDS, texts)
    kinds = {m.kind for m in mined}
    assert kinds == {"value", "null"}
    value_rule = next(m for m in mined if m.kind == "value")
    null_rule = next(m for m in mined if m.kind == "null")
    from adaptive_pdf_extractor_spark.functions.rules import (
        execute_rule,
        validate_value,
    )

    # the mined value rule extracts correctly on a fresh doc of same shape
    v = execute_rule(value_rule.rule, "Seccional SP Nome Pedro Álvares Inscricao 111222")
    assert v == "Pedro Álvares"
    assert validate_value(value_rule.validation_regex, v)
    # the null rule fires only on null docs
    assert execute_rule(null_rule.rule, texts[2]) == ""
    assert execute_rule(null_rule.rule, texts[0]) is None
    # value rule does not steal the next anchor on null docs
    v_on_null = execute_rule(value_rule.rule, texts[2])
    assert v_on_null is None or not validate_value(value_rule.validation_regex, v_on_null)


def test_mine_digits_shape():
    texts = [
        "Nome A Inscricao 123456 Seccional SP Situacao X",
        "Nome B Inscricao 98765432 Seccional RJ Situacao Y",
    ]
    mined = miner.mine_field_rules("l", "inscricao", FIELDS, texts)
    value_rule = next(m for m in mined if m.kind == "value")
    assert "0-9" in value_rule.rule
    from adaptive_pdf_extractor_spark.functions.rules import execute_rule

    assert execute_rule(value_rule.rule, "Inscricao 31415926 Nome Z") == "31415926"


def test_miner_empty_and_anchorless():
    assert miner.mine_field_rules("l", "nome", FIELDS, []) == []
    assert miner.mine_field_rules("l", "nome", FIELDS, ["text without any anchor"]) == []


# ---------------------------------------------------------------------------
# full pipeline from empty rules (Spark)
# ---------------------------------------------------------------------------


def _accuracy(output_df, docs_df) -> float:
    ext = (
        output_df.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "media")
        .select("doc_id", F.col("s.kind").alias("field"), F.col("s.text").alias("value"))
    )
    exp = docs_df.select("doc_id", F.explode("expected").alias("e")).select(
        "doc_id", F.col("e.name").alias("field"), F.col("e.value").alias("expected")
    )
    j = ext.join(exp, ["doc_id", "field"])
    total = j.count()
    correct = j.filter(
        (F.col("value") == F.col("expected"))
        | (F.col("value").isNull() & F.col("expected").isNull())
    ).count()
    return correct / total


@pytest.fixture(scope="module")
def seed1_docs(spark):
    return plumbing.reference_corpus_df(
        spark, f"{DATASETS}/fake_dataset_1000samples_seed_1.json"
    )


@needs_reference
def test_pipeline_learns_from_scratch(spark, seed1_docs, tmp_path):
    """The engine's own adaptive loop, no reference cache: mine rules from
    the corpus, converge, and beat the reference's with-cache accuracy
    benchmark (98.26% — BASELINE.md)."""
    pipe = ExtractionPipeline(
        spark,
        str(tmp_path / "run1"),
        PipelineConfig(max_rounds=4, num_partitions=8),
    )
    out = pipe.run(seed1_docs, initial_rules_rows=[], write_output=False)
    acc = _accuracy(out, seed1_docs)
    assert acc >= 0.9826, f"accuracy {acc:.4f} below reference benchmark"

    # convergence bookkeeping
    rounds = pipe.manifest.state["rounds"]
    assert len(rounds) >= 1
    unres = [r["metrics"]["unresolved_fields"] for r in rounds]
    assert unres == sorted(unres, reverse=True), "unresolved must be non-increasing"
    assert rounds[-1]["n_new_rules"] == 0 or len(rounds) == 4
    # per-partition lineage recorded
    assert all(len(r["lineage"]) >= 1 for r in rounds)
    # rules learned for every field
    rules = pipe.final_rules()
    assert {r["field"] for r in rules} == {
        "nome", "inscricao", "seccional", "subsecao", "categoria",
        "endereco_profissional", "telefone_profissional", "situacao",
    }


def test_pipeline_exact_resume(spark, tmp_path):
    """Kill after round 0; resumed run's final rules + output equal an
    uninterrupted run's (exact resume, north_rule)."""
    docs = spark_io.synthetic_corpus_df(spark, seed=21, count=400, partitions=4)
    cfg = PipelineConfig(max_rounds=3, num_partitions=4)

    # uninterrupted
    pipe_a = ExtractionPipeline(spark, str(tmp_path / "runA"), cfg)
    out_a = pipe_a.run(docs, initial_rules_rows=[], write_output=False)
    assert all(r["lineage"] == sorted(r["lineage"], key=lambda x: x["part_id"])
               for r in pipe_a.manifest.state["rounds"])

    # interrupted: run only round 0, then resume with full budget
    pipe_b0 = ExtractionPipeline(
        spark, str(tmp_path / "runB"), PipelineConfig(max_rounds=1, num_partitions=4)
    )
    pipe_b0.run(docs, initial_rules_rows=[], write_output=False)
    assert pipe_b0.manifest.last_completed_round() == 0

    pipe_b = ExtractionPipeline(spark, str(tmp_path / "runB"), cfg)
    out_b = pipe_b.run(docs, write_output=False)  # resumes from snapshot

    rules_a = [
        {k: r[k] for k in ("label", "field", "rule", "validation_regex", "rule_seq")}
        for r in pipe_a.final_rules()
    ]
    rules_b = [
        {k: r[k] for k in ("label", "field", "rule", "validation_regex", "rule_seq")}
        for r in pipe_b.final_rules()
    ]
    assert json.dumps(rules_a, sort_keys=True) == json.dumps(rules_b, sort_keys=True)

    ja = {r["doc_id"]: r["spans"] for r in out_a.collect()}
    jb = {r["doc_id"]: r["spans"] for r in out_b.collect()}
    assert ja == jb


def test_pipeline_weights_reorder(spark, tmp_path):
    """Weight aggregation: after a run, the dominant rule per field carries
    the larger weight (the distributed analog of bubble-up)."""
    docs = spark_io.synthetic_corpus_df(spark, seed=9, count=300, partitions=4)
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "runW"), PipelineConfig(max_rounds=3, num_partitions=4)
    )
    pipe.run(docs, initial_rules_rows=[], write_output=False)
    rules = pipe.final_rules()
    by_field = {}
    for r in rules:
        by_field.setdefault(r["field"], []).append(r)
    # value rules dominate null rules roughly 70/30 in the generator; weights
    # must reflect hit counts (value weight > null weight)
    for fname, rl in by_field.items():
        kinds = {("null" if r["validation_regex"] == "^$" else "value"): r for r in rl}
        if {"value", "null"} <= kinds.keys():
            assert kinds["value"]["weight"] > kinds["null"]["weight"], fname


def test_keyword_guard_predicate():
    """Standalone form of the reference's disabled _validate_no_other_keywords
    (src/rule.py:415-467): word-boundary, case-insensitive rejection of
    values containing another field's keyword."""
    assert miner.validate_no_other_keywords("João da Silva", "nome", FIELDS)
    # value swallowed the next field's label -> contaminated
    assert not miner.validate_no_other_keywords("João Inscricao", "nome", FIELDS)
    assert not miner.validate_no_other_keywords("joão INSCRICAO x", "nome", FIELDS)
    # substring inside a word is NOT a word-boundary hit
    assert miner.validate_no_other_keywords("Reinscricaoz", "nome", FIELDS)
    assert miner.validate_no_other_keywords("", "nome", FIELDS)
    assert miner.validate_no_other_keywords(None, "nome", FIELDS)
    # discovered anchors participate
    assert not miner.validate_no_other_keywords(
        "x Registro Geral y", "nome", ["nome", "campo"], {"campo": "Registro Geral"}
    )


def test_keyword_guard_drops_contaminated_examples():
    """With the guard ON, slow-path example values containing a sibling
    field's NAME are dropped before shape induction (the boundary lookahead
    already stops captures at sibling anchors, so the name-as-content case
    is the one the flag adds); OFF (the default) mines them as-is."""
    # sibling `ref` is printed under a discovered anchor "Reference Number",
    # so codigo's capture (which stops at sibling ANCHORS) legitimately
    # contains the word "ref" as content.
    anchors = {"codigo": "Codigo", "ref": "Reference Number", "fim": "Fim"}
    fields = ["codigo", "ref", "fim"]
    texts = [
        f"Codigo abc ref {i} Reference Number {70 + i} Fim {i}"
        for i in range(8)
    ]
    mined_off = miner.mine_field_rules(
        "l", "codigo", fields, texts, anchors=anchors, keyword_guard=False
    )
    mined_on = miner.mine_field_rules(
        "l", "codigo", fields, texts, anchors=anchors, keyword_guard=True
    )
    assert any(m.kind == "value" for m in mined_off)
    assert not any(m.kind == "value" for m in mined_on)


def test_pipeline_keyword_guard_on_clean_corpus(spark, tmp_path):
    """keyword_guard=True must not hurt accuracy on a clean corpus (values
    never contain sibling keywords there, so the guard is a no-op)."""
    from adaptive_pdf_extractor_spark.plans.evaluate import field_accuracy
    from adaptive_pdf_extractor_spark.plans.pipeline import (
        ExtractionPipeline,
        PipelineConfig,
    )
    from adaptive_pdf_extractor_spark.sources import spark_io

    docs = spark_io.synthetic_corpus_df(spark, seed=61, count=300, partitions=4)
    pipe = ExtractionPipeline(
        spark,
        str(tmp_path / "kg"),
        PipelineConfig(max_rounds=3, num_partitions=4, keyword_guard=True),
    )
    out = pipe.run(docs, initial_rules_rows=[], write_output=False)
    acc = field_accuracy(out, docs)
    assert acc.accuracy > 0.98


def test_span_parity_counts_dropped_docs_as_unequal(spark):
    """An output missing documents (or empty) must not read as perfect
    parity: the denominator is the golden count."""
    from adaptive_pdf_extractor_spark.sources.corpus import OUTPUT_DDL

    golden = spark.createDataFrame(
        [
            {"doc_id": "d1", "spans": [
                {"kind": "f", "text": "v", "media_ref": None, "offset": 0}]},
            {"doc_id": "d2", "spans": [
                {"kind": "f", "text": "w", "media_ref": None, "offset": 0}]},
        ],
        OUTPUT_DDL,
    )
    empty = spark.createDataFrame([], OUTPUT_DDL)
    r = plumbing.span_parity(empty, golden)
    assert r.total == 2 and r.equal == 0 and r.parity == 0.0
    partial = golden.filter(F.col("doc_id") == "d1")
    r2 = plumbing.span_parity(partial, golden)
    assert r2.total == 2 and r2.equal == 1 and r2.parity == 0.5


def test_resume_after_converged_commit_runs_no_extra_round(spark, tmp_path):
    """Crash between a converged round's commit and finish(): the resumed
    run must NOT execute another round (an extra weight-aggregation pass
    could flip rule priority order)."""
    from adaptive_pdf_extractor_spark.plans.checkpoint import _atomic_write_json
    from adaptive_pdf_extractor_spark.plans.pipeline import (
        ExtractionPipeline,
        PipelineConfig,
    )
    from adaptive_pdf_extractor_spark.sources import spark_io

    docs = spark_io.synthetic_corpus_df(spark, seed=83, count=150, partitions=2)
    run_dir = str(tmp_path / "crashy")
    pipe = ExtractionPipeline(
        spark, run_dir, PipelineConfig(max_rounds=4, num_partitions=2)
    )
    pipe.run(docs, initial_rules_rows=[], write_output=False)
    state = dict(pipe.manifest.state)
    assert state["rounds"][-1]["n_new_rules"] == 0  # converged
    n_rounds = len(state["rounds"])
    rules_before = pipe.final_rules()
    # simulate the crash: wind status back to 'running' (finish never ran)
    state["status"] = "running"
    state.pop("summary", None)
    _atomic_write_json(pipe.manifest.path, state)

    pipe2 = ExtractionPipeline(
        spark, run_dir, PipelineConfig(max_rounds=4, num_partitions=2)
    )
    pipe2.run(docs, initial_rules_rows=[], write_output=False)
    assert len(pipe2.manifest.state["rounds"]) == n_rounds  # no extra round
    assert pipe2.final_rules() == rules_before  # weights untouched
    assert pipe2.manifest.complete


def test_unresolved_excludes_direct_resolved_fields(spark):
    """A field resolved by the direct fallback has a VALUE — it must not be
    reported unresolved (the final manifest summary counts these), and its
    doc must not ship norm_text over Arrow."""
    from adaptive_pdf_extractor_spark.functions.rules import RuleBook
    from adaptive_pdf_extractor_spark.operators import miner
    from adaptive_pdf_extractor_spark.operators.extract import extract_documents
    from adaptive_pdf_extractor_spark.sources import spark_io

    docs = spark_io.synthetic_corpus_df(spark, seed=19, count=30, partitions=2)
    out = extract_documents(
        docs, RuleBook.from_rows([]), direct_extractor=miner.direct_extract_series
    ).cache()
    try:
        # the synthetic template is fully direct-extractable
        assert out.filter(F.size("unresolved") > 0).count() == 0
        assert out.filter(F.col("norm_text").isNotNull()).count() == 0
        paths = {
            r["p"]
            for r in out.select(F.explode("hits").alias("h"))
            .select(F.col("h.path").alias("p"))
            .distinct()
            .collect()
        }
        assert paths == {"direct"}
    finally:
        out.unpersist()


def test_direct_fallback_paths_in_kernel(spark):
    """Direct fallback inside the extraction kernel: a field the direct
    extractor fills with "" comes out null with path 'direct'; a field is
    listed in ``unresolved`` iff its path is 'none'; norm_text ships only
    for docs with an unresolved field."""
    import pandas as pd

    from adaptive_pdf_extractor_spark.functions.rules import RuleBook
    from adaptive_pdf_extractor_spark.operators.extract import extract_documents

    def direct(label, all_fields, fld, texts):
        fill = {"nome": "", "inscricao": "v"}.get(fld)
        return pd.Series([fill] * len(texts), dtype="object")

    book = RuleBook.from_rows([
        dict(label="carteira_oab", field="seccional", rule=r"Seccional\s*([A-Z]{2})\b",
             validation_regex=r"^[A-Z]{2}$", weight=1, rule_seq=0, rule_id=7),
    ])
    docs = spark_io.synthetic_corpus_df(spark, seed=19, count=40, partitions=2)
    rows = extract_documents(docs, book, direct_extractor=direct).collect()
    paths = {}
    for r in rows:
        values = {s["kind"]: s["text"] for s in r["spans"] if s["kind"] != "media"}
        for h in r["hits"]:
            paths.setdefault((h["field"], h["path"]), 0)
            paths[(h["field"], h["path"])] += 1
            assert (h["field"] in r["unresolved"]) == (h["path"] == "none")
            assert (h["rule_id"] == 7) == (h["path"] == "rule")
        assert (values["nome"], values["inscricao"]) == (None, "v")
        assert (r["norm_text"] is not None) == bool(r["unresolved"])
    assert paths[("nome", "direct")] == paths[("inscricao", "direct")] == 40
    assert paths[("seccional", "rule")] > 0 and paths[("seccional", "none")] > 0


def test_round_and_final_pass_job_counts(spark, tmp_path):
    """Pinned Spark job counts of a cold learn and a converged resume (one
    aggregate action per round, no job for a round with nothing to mine,
    the run summary from an Observation on the output write, no docs cache
    on a converged resume); the manifest summary equals an independent
    aggregate over the final pass's hits."""
    sc = spark.sparkContext
    docs = spark_io.synthetic_corpus_df(spark, seed=83, count=150, partitions=2)
    cfg = PipelineConfig(max_rounds=4, num_partitions=2)
    run_dir = str(tmp_path / "jobs")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    learn = jobs("pin_learn", lambda: ExtractionPipeline(spark, run_dir, cfg).run(
        docs, initial_rules_rows=[]))
    resume = jobs("pin_resume", lambda: ExtractionPipeline(spark, run_dir, cfg).run(docs))
    # a cold learn of two rounds (the second finds nothing to mine), then
    # the final pass; the parent formulation submitted 28 and 9
    assert (learn, resume) == (20, 5)

    pipe = ExtractionPipeline(spark, run_dir, cfg)
    assert pipe.manifest.state["rounds"][-1]["n_new_rules"] == 0
    final = pipe._extract(docs, pipe.final_rules(), final=True)
    per_doc = final.groupBy().agg(
        F.count("*").alias("docs"),
        F.sum("n_text_spans").alias("text_spans"),
        F.sum("n_media_spans").alias("media_spans"),
    ).first()
    by_path = {
        r["path"]: r["count"]
        for r in final.select(F.explode("hits.path").alias("path")).groupBy("path").count().collect()
    }
    assert pipe.manifest.state["summary"] == {
        "docs": 150,
        "unresolved_fields": by_path.get("none", 0),
        "rule_hits": by_path["rule"],
        "text_spans": per_doc["text_spans"],
        "media_spans": per_doc["media_spans"],
        "fast_path_doc_rate": None,
    }
    assert per_doc["docs"] == 150
