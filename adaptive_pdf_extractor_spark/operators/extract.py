"""The fused fast-path extraction operator.

One pass per refinement round does everything the reference's per-document
loop did (reference src/main.py:179-325 fast path + src/pipeline.py:22-64),
split between the JVM and Arrow-batched Python by what each is good at:

* **JVM (whole-stage codegen)**: span assembly (concat of text spans in
  offset order — pure concatenation, no regex), media extraction, output
  span-struct and hit-struct construction, partition ids. Nested structs
  never cross the Arrow boundary.
* **Python (Arrow batches)**: normalization + rule application — the parts
  contractually bound to CPython ``re`` (learned rules use inline flags,
  lookaheads and Unicode classes whose Java-regex behavior differs;
  SURVEY §2.2). Only flat string/long arrays cross Arrow, which measurably
  cuts UDF serde (the local-mode JVM/Python contention source).

The Python kernel is a plain-list kernel: each Arrow batch is normalized
once (one vectorized ``normalize_series``), split into (label, fields)
groups, and each group's texts stay a Python list that every field
resolves with ``rules.first_match`` over precompiled patterns. No pandas
Series is built per field or per rule: at tens of documents per template
per partition a per-call pandas ``str.extract``/``.loc`` costs more than
the regex work it wraps. The direct fallback gets a Series only when a
field misses every rule.

The rule set rides in as a **broadcast** ``RuleBook`` (KB-scale), so the
pass is a broadcast nested-loop join with first-match short-circuit: zero
shuffle, linear in executors. Weights are NOT mutated in place (the
reference bubbles a linked list, src/cache.py:249-289); each resolved
(doc, field) emits its winning ``rule_id`` and the driver aggregates
``groupBy(rule_id).count()`` per round — end-of-round totals are
order-independent, preserving the reference's end state (SURVEY §2.4).

Optional ``direct_extractor`` is the deterministic slow-path analog of the
reference's LLM extractor (src/pipeline.py:72-143): consulted only for
(doc, field) pairs no rule resolved.

Works identically on batch and streaming DataFrames (stateless per batch).
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_series
from ..functions.rules import RuleBook, first_match

# UDF-boundary schema: flat arrays/scalars only (cheap Arrow transport).
_UDF_DDL = (
    "doc_id string, label string, "
    "fields array<string>, values array<string>, "
    "rule_ids array<bigint>, paths array<string>, "
    "norm_text string, media_refs array<string>, "
    "n_text_spans int, part_id int"
)

# path markers for per-field provenance (metrics + tests)
PATH_RULE = "rule"       # resolved by a cached rule (fast path)
PATH_DIRECT = "direct"   # resolved by the deterministic direct extractor
PATH_NONE = "none"       # unresolved -> null output value


def span_text_expr(ordered: str = "spans") -> str:
    """SQL expression assembling a document's text from its span array:
    concat of text-span text in offset order (the ONE definition of
    'document text' — extraction and streaming dedup must agree on it)."""
    return (
        f"concat_ws('', transform({ordered},"
        " s -> CASE WHEN s.kind = 'text' THEN coalesce(s.text, '') ELSE '' END))"
    )


def _make_udf(
    rulebook_bc, direct_extractor: Optional[Callable]
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Python stage: (doc_id, label, raw_text, fields, passthrough...) in,
    flat (values, rule_ids, paths) arrays + echoed passthrough out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        book: RuleBook = (
            rulebook_bc.value if hasattr(rulebook_bc, "value") else rulebook_bc
        )
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            texts = normalize_series(pdf["raw_text"].astype("object")).tolist()

            field_lists = [list(ft) if ft is not None else [] for ft in pdf["fields"]]
            groups: dict[tuple, list[int]] = {}
            for pos, key in enumerate(zip(pdf["label"], map(tuple, field_lists))):
                groups.setdefault(key, []).append(pos)

            out_values: list = [None] * n
            out_ids: list = [None] * n
            out_paths: list = [None] * n
            # mining payload only for docs with a genuinely unresolved field
            # (no value AFTER the direct fallback), so the final pass doesn't
            # push the whole slow-path corpus text over Arrow for nothing
            norm_out: list = [None] * n

            for (label, fields), positions in groups.items():
                gtexts = [texts[pos] for pos in positions]
                gseries = None  # built only when a field misses every rule
                # Per-field COLUMNS, transposed to rows at the end.
                col_vals, col_ids, col_paths = [], [], []
                group_unres = [False] * len(positions)
                for fname in fields:
                    rules = book.rules_for(label, fname)
                    hits = [first_match(rules, t) for t in gtexts]
                    ids = [rid for _, rid in hits]
                    # "" -> null in the answer (src/pipeline.py:52-57)
                    vals = [v or None for v, _ in hits]
                    paths = [PATH_NONE if rid == -1 else PATH_RULE for rid in ids]
                    miss = [k for k, rid in enumerate(ids) if rid == -1]
                    if miss and direct_extractor is not None:
                        if gseries is None:
                            gseries = pd.Series(gtexts, dtype="object")
                        dv = direct_extractor(label, list(fields), fname, gseries).tolist()
                        for k in miss:
                            if dv[k] is not None:
                                vals[k] = dv[k] or None
                                paths[k] = PATH_DIRECT
                        miss = [k for k in miss if dv[k] is None]
                    for k in miss:
                        group_unres[k] = True
                    col_vals.append(vals)
                    col_ids.append(ids)
                    col_paths.append(paths)
                if fields:
                    rows_v = list(map(list, zip(*col_vals)))
                    rows_i = list(map(list, zip(*col_ids)))
                    rows_p = list(map(list, zip(*col_paths)))
                else:
                    rows_v = [[] for _ in positions]
                    rows_i = [[] for _ in positions]
                    rows_p = [[] for _ in positions]
                for k, pos in enumerate(positions):
                    out_values[pos] = rows_v[k]
                    out_ids[pos] = rows_i[k]
                    out_paths[pos] = rows_p[k]
                    if group_unres[k]:
                        norm_out[pos] = gtexts[k]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "label": pdf["label"].values,
                    "fields": field_lists,
                    "values": out_values,
                    "rule_ids": out_ids,
                    "paths": out_paths,
                    "norm_text": norm_out,
                    "media_refs": pdf["media_refs"].values,
                    "n_text_spans": pdf["n_text_spans"].values,
                    "part_id": pdf["part_id"].values,
                }
            )

    return run


def extract_documents(
    docs: DataFrame,
    rulebook: RuleBook,
    direct_extractor: Optional[Callable] = None,
    assume_sorted: bool = True,
) -> DataFrame:
    """Run the fused extraction pass. Narrow (no shuffle): JVM prep ->
    one mapInPandas over flat columns -> JVM struct construction.

    ``assume_sorted``: span arrays are offset-ordered (the writer contract
    — parquet preserves array order, and every source in sources/ emits
    ordered spans). The comparator-lambda ``array_sort`` is interpreted
    per element and costs ~15% of the whole pass at 2M docs/s scale; pass
    ``assume_sorted=False`` only for corpora from untrusted writers."""
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(rulebook)
    udf = _make_udf(bc, direct_extractor)

    ordered = (
        "spans" if assume_sorted else "array_sort(spans, (l, r) -> l.offset - r.offset)"
    )
    prep = docs.select(
        "doc_id",
        "label",
        F.expr(span_text_expr(ordered)).alias("raw_text"),
        F.expr("transform(schema_fields, f -> f.name)").alias("fields"),
        F.expr(
            f"transform(filter({ordered}, s -> s.kind = 'media'), s -> s.media_ref)"
        ).alias("media_refs"),
        F.size("spans").alias("_n_spans"),
        F.spark_partition_id().cast("int").alias("part_id"),
    ).withColumn(
        "n_text_spans",
        (F.col("_n_spans") - F.size("media_refs")).cast("int"),
    ).drop("_n_spans")

    extracted = prep.mapInPandas(udf, schema=_UDF_DDL)
    return _build_output(extracted)


def _build_output(extracted: DataFrame) -> DataFrame:
    """JVM-side construction of the public output shape from flat arrays."""
    field_spans = F.expr(
        "transform(arrays_zip(fields, values), (x, i) ->"
        " struct(x.fields as kind, x.values as text,"
        " cast(null as string) as media_ref, cast(i as int) as offset))"
    )
    media_spans = F.expr(
        "transform(media_refs, (m, j) -> struct('media' as kind,"
        " cast(null as string) as text, m as media_ref,"
        " cast(size(fields) + j as int) as offset))"
    )
    hits = F.expr(
        "transform(arrays_zip(fields, rule_ids, paths), x ->"
        " struct(x.fields as field, x.rule_ids as rule_id, x.paths as path))"
    )
    # a field is unresolved iff NO path produced a value (path 'none');
    # direct-fallback-resolved fields have values and must not be reported
    # unresolved in the manifest summary
    unresolved = F.expr(
        "transform(filter(arrays_zip(fields, paths), x -> x.paths = 'none'),"
        " x -> x.fields)"
    )
    return extracted.select(
        "doc_id",
        "label",
        F.concat(field_spans, media_spans).alias("spans"),
        hits.alias("hits"),
        unresolved.alias("unresolved"),
        "n_text_spans",
        F.size("media_refs").cast("int").alias("n_media_spans"),
        "norm_text",
        F.when(F.size(unresolved) > 0, F.col("fields"))
        .otherwise(F.lit(None))
        .alias("all_fields"),
        "part_id",
    )


def salted_repartition(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit skew-defeating repartition by hashed doc_id.

    doc_ids are often monotonic (range-generated or ingest-ordered) and
    document *sizes* are heavy-tailed; hashing decorrelates both so every
    partition gets a uniform sample of sizes (north_rule: "salted
    repartitioning by doc_id hash to defeat large-PDF skew"). AQE's
    coalescing then trims any residual imbalance.
    """
    return docs.repartition(num_partitions, F.xxhash64("doc_id"))
