"""Multi-template corpora (per-row dynamic schemas — the reference's real
dataset has two labels with different schemas, data/real/dataset.json) and
reference-format results export."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.plans.pipeline import (
    ExtractionPipeline,
    PipelineConfig,
)
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
import plumbing


def _two_label_rows(n_per_label: int = 80) -> list[dict]:
    """Label A: OAB cards (8 fields). Label B: invoices (3 fields, one
    shared field name with different semantics)."""
    rows = corpus_mod.synth_rows(seed=51, start=0, count=n_per_label, corpus="labA")
    rng = corpus_mod._Rng(99)
    inv_schema = [
        {"name": "numero", "description": "invoice number"},
        {"name": "valor", "description": "total value"},
        {"name": "situacao", "description": "payment status"},
    ]
    for i in range(n_per_label):
        doc_id = f"labB/{i:09d}"
        numero = str(rng.randint(10**5, 10**6 - 1))
        valor = f"{rng.randint(1, 9999)},{rng.randint(10, 99)}"
        situacao = rng.choice(["PAGO", "PENDENTE"])
        present = rng.random() < 0.75
        text = (
            f"Numero {numero}\nValor\t{valor}\n"
            + (f"Situacao {situacao}" if present else "Situacao")
        )
        rows.append(
            {
                "doc_id": doc_id,
                "spans": corpus_mod.text_to_spans(doc_id, text),
                "label": "invoice",
                "schema_fields": inv_schema,
                "expected": [
                    {"name": "numero", "value": numero},
                    {"name": "valor", "value": valor},
                    {"name": "situacao", "value": situacao if present else None},
                ],
            }
        )
    return rows


def test_multilabel_pipeline_learns_per_label(spark, tmp_path):
    rows = _two_label_rows()
    docs = plumbing.input_df_from_rows(spark, rows)
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "run"), PipelineConfig(max_rounds=3, num_partitions=4)
    )
    out = pipe.run(docs, initial_rules_rows=[], write_output=False).cache()

    rules = pipe.final_rules()
    labels = {r["label"] for r in rules}
    assert labels == {"carteira_oab", "invoice"}
    inv_fields = {r["field"] for r in rules if r["label"] == "invoice"}
    assert inv_fields == {"numero", "valor", "situacao"}

    # per-label output schema: invoice docs emit exactly 3 field spans
    inv_out = out.filter(F.col("doc_id").startswith("labB/"))
    kinds = inv_out.select(F.explode("spans").alias("s")).select("s.kind").distinct()
    assert {r["kind"] for r in kinds.collect()} <= {"numero", "valor", "situacao", "media"}

    # accuracy per label
    ext = (
        out.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "media")
        .select("doc_id", F.col("s.kind").alias("field"), F.col("s.text").alias("value"))
    )
    exp = docs.select("doc_id", F.explode("expected").alias("e")).select(
        "doc_id", F.col("e.name").alias("field"), F.col("e.value").alias("expected")
    )
    j = ext.join(exp, ["doc_id", "field"]).withColumn(
        "ok",
        (F.col("value") == F.col("expected"))
        | (F.col("value").isNull() & F.col("expected").isNull()),
    )
    acc = j.groupBy(F.split("doc_id", "/")[0].alias("corpus")).agg(
        F.avg(F.col("ok").cast("int")).alias("acc")
    )
    accs = {r["corpus"]: r["acc"] for r in acc.collect()}
    assert accs["labA"] > 0.95
    assert accs["labB"] > 0.95


def test_results_export_reference_format(spark, tmp_path):
    rows = corpus_mod.synth_rows(seed=61, start=0, count=50)
    docs = plumbing.input_df_from_rows(spark, rows)
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "runx"), PipelineConfig(max_rounds=2, num_partitions=2)
    )
    out = pipe.run(docs, initial_rules_rows=[], write_output=False)
    out_rows = [r.asDict(recursive=True) for r in out.collect()]
    results = plumbing.output_rows_to_reference_results(out_rows, rows)
    assert len(results) == 50
    r0 = results[0]
    assert set(r0.keys()) == {"idx", "label", "expected", "extracted"}
    assert r0["idx"] == 1 and r0["label"] == "carteira_oab"
    assert list(r0["extracted"].keys()) == [f["name"] for f in rows[0]["schema_fields"]]
    # round-trips through JSON
    json.dumps(results, ensure_ascii=False)
