"""Executable specs: reference formulations that only tests import.

Each spec is an independent (slower or differently built) formulation of a
production path; tests pin the production path to it.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adaptive_pdf_extractor_spark.functions.normalize import normalize_series
from adaptive_pdf_extractor_spark.functions.rules import (
    Rule,
    RuleBook,
    compile_cached,
    execute_rule,
    validate_value,
)
from adaptive_pdf_extractor_spark.functions.text import (
    WS_CLASS,
    _hash_family,
    char_grams_all,
    quality_score,
    tokens,
)
from adaptive_pdf_extractor_spark.operators.dedup import (
    decontaminate,
    exact_dedup_groups,
)
from adaptive_pdf_extractor_spark.operators.similarity import _dot
from adaptive_pdf_extractor_spark.sources.spark_io import RULES_DDL


def apply_rules_pandas(
    texts: pd.Series, rules: list[Rule]
) -> tuple[pd.Series, pd.Series]:
    """First-match rule application with one pandas ``str.extract`` /
    ``str.match`` pass per rule over the rows still unresolved (the
    extraction kernel's former formulation). Spec of
    ``rules.apply_rules_vectorized``: same ``(values, rule_ids)`` contract,
    ``None`` / ``-1`` for unresolved rows, ``""`` for validated empty
    captures."""
    n = len(texts)
    values = pd.Series([None] * n, index=texts.index, dtype="object")
    rule_ids = pd.Series([-1] * n, index=texts.index, dtype="int64")
    # Rule.apply gates falsy text (src/rule.py:44-45)
    unresolved = texts.notna() & (texts != "")

    for r in rules:
        if not unresolved.any():
            break
        pat = compile_cached(r.rule, re.DOTALL)
        if pat is None or pat.groups < 1:
            continue
        vpat = compile_cached(r.validation_regex, 0)
        if vpat is None:
            continue
        sub = texts[unresolved]
        # str.extract uses pat.search; group 1 == first column.
        extracted = sub.str.extract(pat, expand=True).iloc[:, 0]
        got = extracted.notna()
        if not got.any():
            continue
        cand = extracted[got].str.strip()  # "" survives as "" (null-field)
        valid = cand.str.match(vpat, na=False)  # re.match semantics
        hit_idx = cand.index[valid]
        if len(hit_idx):
            values.loc[hit_idx] = cand[valid]
            rule_ids.loc[hit_idx] = r.rule_id
            unresolved.loc[hit_idx] = False
    return values, rule_ids


def word_occurrences(col: Column, word: str) -> Column:
    """Count of a token (word-boundary by whitespace) — the substring-count
    formulation keeps it expressible identically in ANSI SQL.

    Two delimiter subtleties, both load-bearing: (1) whitespace normalizes
    to single spaces first, so newline/tab-separated tokens count (the
    token_count denominator splits on the same class); (2) interior spaces
    are DOUBLED before searching ``' word '``, so adjacent repeats
    ('the the the') don't share delimiter spaces with the non-overlapping
    replace-count (which would undercount them).

    Spec of ``text._occurrences``: its one alternation over a word set
    counts the sum of this over the set's words."""
    normalized = F.regexp_replace(col, rf"[{WS_CLASS}]+", " ")
    padded = F.concat(
        F.lit(" "), F.replace(normalized, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def quality_gate_two_branch(
    docs: DataFrame,
    decontaminate_against: DataFrame | None = None,
    decon_n: int = 13,
) -> DataFrame:
    """The curation gate's former formulation, spec of
    ``curation._gate``: score, filter ``quality >= 0.5``, anti-join the
    ids that ``dedup.decontaminate`` flags among the passing docs, then
    keep the min id of each fingerprint group by semi-joining the
    filtered frame to its own ``exact_dedup_groups`` aggregate. That
    join runs the scored subtree in both of its branches."""
    kept = docs.withColumn(
        "quality", quality_score(F.col("text"))
    ).filter(F.col("quality") >= 0.5)
    if decontaminate_against is not None:
        flagged = decontaminate(
            kept, decontaminate_against, "doc_id", "text", n=decon_n
        )
        kept = kept.join(
            flagged.filter(F.col("contaminated")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
    groups = exact_dedup_groups(kept, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    return kept.join(groups, "doc_id", "left_semi")


def simhash64_columns(text_col: Column) -> Column:
    """Reference formulation of ``dedup.simhash64``, entirely as Column
    algebra. Interpreted (not codegen'd): 64 ``F.aggregate`` folds per row.
    Kept as the executable spec the fast path is pinned against — do not
    use in the hot path."""
    toks = tokens(text_col)
    bit_cols = []
    for k in range(64):
        contrib = F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.when(F.shiftright(F.xxhash64(t), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        # shiftleft handles bit 63 (two's-complement negative); OR-fold the
        # disjoint bits — addition would overflow under ANSI mode
        bit_cols.append(
            F.when(
                contrib > 0, F.shiftleft(F.lit(1).cast("long"), k)
            ).otherwise(F.lit(0).cast("long"))
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out.bitwiseOR(c)
    return out


def banded_columns(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Reference formulation of ``dedup._banded``: one struct per band,
    each hashing its ``rows_per_band`` ``element_at`` slots, exploded from
    one array. Builds ``bands x rows_per_band`` Columns on the driver and
    one large generated class — do not use in the hot path."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def neardup_clusters_minlabel(
    ids: DataFrame, pairs: DataFrame, max_iterations: int = 12
) -> DataFrame:
    """Reference formulation of ``dedup.neardup_clusters``: iterative
    min-label propagation over the symmetrized edge list. Converges in
    component-diameter + 1 rounds (the final round verifies zero changes),
    capped at ``max_iterations`` with a loud failure — which a chain-shaped
    component longer than the cap WILL trip; that diameter dependence is
    why the star-contraction version is the default. Kept as the executable
    spec the default is pinned against (tests assert identical output).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .persist()
    )
    labels = ids.select(F.col("id"), F.col("id").alias("lab")).persist()
    try:
        converged = False
        for _ in range(max_iterations):
            nbr = (
                edges.join(
                    labels.select(F.col("id").alias("src"), "lab"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("lab").alias("nlab"))
            )
            # localCheckpoint, not persist: persist truncates recompute but
            # NOT the logical plan, and Catalyst's cost on a plan nesting N
            # rounds of joins grows super-linearly — ~10+ unconverged
            # rounds OOMed the driver (measured on a 40-node chain).
            # Checkpointing resets the plan to a leaf each round.
            new_labels = (
                labels.join(nbr, "id", "left")
                .select(
                    "id",
                    F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.lab") != F.col("o.lab"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            # Returning the partial labels would silently split one real
            # component into several (wrong canonical_id AND cluster_size);
            # long chains (diameter > max_iterations) must fail loudly.
            raise RuntimeError(
                f"neardup_clusters_minlabel did not converge in "
                f"{max_iterations} rounds; rounds needed = graph diameter "
                "+ 1 (the final zero-change verification round). Raise "
                "max_iterations — or use neardup_clusters (star "
                "contraction), whose rounds are O(log n) regardless of "
                "diameter"
            )

        # truncate the per-round join lineage and release the caches the
        # loop accumulated (labels is small: two columns, one row per node)
        final = labels.localCheckpoint(eager=True)
        return final.select(
            F.col("id").alias("doc_id"), F.col("lab").alias("canonical_id")
        ).withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("canonical_id")),
        )
    finally:
        labels.unpersist()
        edges.unpersist()


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable. Interpreted higher-order lambdas re-evaluate every
    captured outer expression per element (no common-subexpression
    elimination inside a lambda body); binding through a one-element array
    transform turns the capture into a slot read."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def winnowing_fingerprints_columns(
    col: Column, k: int = 7, window: int = 4, hash_family: str = "xxhash64"
) -> Column:
    """Reference formulation of ``text.winnowing_fingerprints``, entirely
    as Column algebra: the same family gram hashes, then window minima via
    an interpreted ``array_min`` transform over an index sequence, sorted
    distinct. Interpreted (not codegen'd) — do not use in the hot path."""
    gram_hash, _ = _hash_family(hash_family)

    def mins_of(gram_hashes: Column) -> Column:
        n_windows = F.greatest(F.size(gram_hashes) - (window - 1), F.lit(1))
        mins = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda w: F.array_min(F.slice(gram_hashes, w, window)),
        )
        return F.array_sort(F.array_distinct(mins))

    return _bind(F.transform(char_grams_all(col, k), gram_hash), mins_of)


def lsh_bucket_expr(vec_col: Column, planes: list[list[float]]) -> Column:
    """Reference formulation of ``similarity.lsh_table_buckets_np`` for one
    table as Column algebra: bucket id = bits of sign(v . h_p), one
    interpreted dot fold per plane."""
    bits = []
    for p, plane in enumerate(planes):
        h = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(_dot(vec_col.cast("array<double>"), h) >= 0, F.lit(1 << p)).otherwise(
                F.lit(0)
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


# Relational cross-check formulation of the extraction kernel. The fused
# in-UDF first-match loop is the production path; this expresses the same
# semantics as pure relational algebra —
#
#     docs x broadcast(rules)  (nested-loop join)
#     -> apply/validate each rule        (pandas UDF per pair: CPython re)
#     -> row_number() over (partition by doc_id, field
#                           order by weight desc, rule_seq)  among validated
#     -> keep rank 1
#
# It shuffles (the window) and evaluates every rule on every doc (no
# short-circuit), so it is deliberately NOT a scale path.


def rules_to_df(spark, book: RuleBook) -> DataFrame:
    rows = []
    for label, fields in book.by_label_field.items():
        for fname, rl in fields.items():
            for r in rl:
                rows.append(
                    {
                        "label": label,
                        "field": fname,
                        "rule": r.rule,
                        "validation_regex": r.validation_regex,
                        "weight": r.weight,
                        "rule_seq": r.rule_seq,
                        "round_added": 0,
                        "rule_id": r.rule_id,
                    }
                )
    return spark.createDataFrame(rows, schema=RULES_DDL)


APPLIED_DDL = (
    "doc_id string, field string, rule_id bigint, weight bigint, "
    "rule_seq bigint, value string, valid boolean"
)


def first_match_relational(docs: DataFrame, rules: DataFrame) -> DataFrame:
    """(doc_id, field, value, rule_id) via join + window — semantics equal
    to the fused operator's (tested), including tri-state null handling."""
    flat = docs.select(
        "doc_id",
        "label",
        F.expr(
            "concat_ws('', transform(array_sort(spans, (l, r) -> l.offset - r.offset),"
            " s -> CASE WHEN s.kind = 'text' THEN coalesce(s.text, '') ELSE '' END))"
        ).alias("raw_text"),
    )

    def normalize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = normalize_series(pdf["raw_text"])
            yield pdf[["doc_id", "label", "text"]]

    normed = flat.mapInPandas(
        normalize_batch, schema="doc_id string, label string, text string"
    )

    pairs = normed.join(F.broadcast(rules), "label")

    def apply_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            valid = []
            for text, rule, vregex in zip(
                pdf["text"], pdf["rule"], pdf["validation_regex"]
            ):
                v = execute_rule(rule, text)
                vals.append(v)
                valid.append(validate_value(vregex, v))
            out = pdf[["doc_id", "field", "rule_id", "weight", "rule_seq"]].copy()
            out["value"] = pd.Series(vals, index=pdf.index, dtype="object")
            out["valid"] = valid
            yield out

    applied = pairs.mapInPandas(apply_batch, schema=APPLIED_DDL)

    w = Window.partitionBy("doc_id", "field").orderBy(
        F.desc("weight"), F.asc("rule_seq")
    )
    return (
        applied.filter("valid")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "field",
            # "" -> null (src/pipeline.py:52-57)
            F.nullif(F.col("value"), F.lit("")).alias("value"),
            "rule_id",
        )
    )
