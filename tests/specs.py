"""Executable specs: reference formulations that only tests import.

Each spec is an independent (slower or differently built) formulation of a
production path; tests pin the production path to it.
"""

from __future__ import annotations

import re

import pandas as pd

from adaptive_pdf_extractor_spark.functions.rules import Rule, compile_cached


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
