"""Evaluation: field accuracy as a library operator.

The reference evaluates inline per document (exact string equality incl.
None — src/metrics.py:255-289) and reports a corpus mean (src/metrics.py:
173-174). Here it is a DataFrame operator: a doc_id equi-join plus
JVM-side field comparison (broadcast-hash or sort-merge as Catalyst
chooses; AQE handles skew). Golden span parity, which only the tests
score, is ``tests/plumbing.span_parity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def field_accuracy(output: DataFrame, docs_with_expected: DataFrame) -> Row:
    """Exact-equality field accuracy vs ground truth (None == None counts as
    correct — reference src/metrics.py:270-272). Returns
    Row(fields, correct, accuracy, perfect_docs, docs)."""
    ext = (
        output.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "media")
        .select(
            "doc_id", F.col("s.kind").alias("field"), F.col("s.text").alias("value")
        )
    )
    exp = docs_with_expected.select(
        "doc_id", F.explode("expected").alias("e")
    ).select("doc_id", F.col("e.name").alias("field"), F.col("e.value").alias("expected"))
    # LEFT from expected: a (doc, field) the output dropped counts as wrong,
    # not as a shrunken denominator (same blindness guard as span_parity).
    # The _present marker separates "row missing" from "extracted null" —
    # only the latter may match a null expected.
    ext = ext.withColumn("_present", F.lit(1))
    j = exp.join(ext, ["doc_id", "field"], "left")
    per_field = j.withColumn(
        "ok",
        F.when(F.col("_present").isNull(), F.lit(0)).otherwise(
            (
                (F.col("value") == F.col("expected"))
                | (F.col("value").isNull() & F.col("expected").isNull())
            ).cast("int")
        ),
    )
    per_doc = per_field.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.sum("ok").alias("n_ok")
    )
    agg = per_doc.agg(
        F.sum("n").alias("fields"),
        F.sum("n_ok").alias("correct"),
        F.sum((F.col("n") == F.col("n_ok")).cast("int")).alias("perfect_docs"),
        F.count("*").alias("docs"),
    ).first()
    fields, correct = agg["fields"] or 0, agg["correct"] or 0
    return Row(
        fields=fields,
        correct=correct,
        accuracy=(correct / fields if fields else 1.0),
        perfect_docs=agg["perfect_docs"] or 0,
        docs=agg["docs"],
    )
