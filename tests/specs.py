"""Executable specs: reference formulations that only tests import.

Each spec is an independent (slower or differently built) formulation of a
production path; tests pin the production path to it.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.rules import Rule, compile_cached
from adaptive_pdf_extractor_spark.functions.text import tokens


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
        from pyspark.sql.window import Window

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
