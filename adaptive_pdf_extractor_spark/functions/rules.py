"""Extraction-rule model, execution and validation semantics.

Behavioral parity targets (reference citations):

* ``execute_rule`` tri-state return — reference src/rule.py:71-99:
  ``re.search(rule, text, re.DOTALL)`` → ``group(1).strip()``; empty capture
  → ``""`` (the null-field encoding); no match / pattern without a capture
  group / invalid regex → ``None``.
* ``validate`` — reference src/rule.py:52-63: ``None`` → ``False``;
  otherwise ``re.match(validation_regex, value) is not None`` (anchored at
  start only; learned regexes carry their own ``^...$``); invalid regex →
  ``False``.
* First-match-wins over rules in priority order ``(weight desc, insertion
  order)`` — reference src/cache.py:219-247 (priority iteration) and :263
  (strict ``<`` bubble keeps equal-weight insertion order stable).
* ``""`` → null in the answer map — reference src/pipeline.py:52-57.

Rules are plain rows of the engine's ``rules`` table::

    label STRING, field STRING, rule STRING, validation_regex STRING,
    weight BIGINT, rule_seq BIGINT, round_added INT, rule_id BIGINT

and are shipped to executors as a broadcast ``RuleBook``. All regexes run on
CPython ``re`` (one engine end-to-end — learned patterns use inline ``(?i)``,
lookaheads and Unicode literals whose Java-regex behavior differs).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Iterable, Optional

import pandas as pd

# ---------------------------------------------------------------------------
# Rule model
# ---------------------------------------------------------------------------

RULES_COLUMNS = [
    "label",
    "field",
    "rule",
    "validation_regex",
    "weight",
    "rule_seq",
    "round_added",
    "rule_id",
]


@dataclass(frozen=True)
class Rule:
    """One extraction rule: a capture regex + a format-validation regex."""

    rule: str
    validation_regex: str
    weight: int = 1
    rule_seq: int = 0  # insertion order within (label, field) — tie-breaker
    rule_id: int = -1  # globally unique id (for weight aggregation)


# Per-process compiled-regex cache (regexes are reused across Arrow batches
# inside each Python worker; compiling per batch would dominate runtime).
_COMPILE_CACHE: dict[tuple[str, int], Optional[re.Pattern]] = {}


def compile_cached(pattern: str, flags: int = 0) -> Optional[re.Pattern]:
    """Compile with memoization; invalid patterns memoize to ``None``
    (reference swallows regex errors — src/rule.py:96-99, :61-63)."""
    key = (pattern, flags)
    try:
        return _COMPILE_CACHE[key]
    except KeyError:
        try:
            compiled: Optional[re.Pattern] = re.compile(pattern, flags)
        except re.error:
            compiled = None
        _COMPILE_CACHE[key] = compiled
        return compiled


# ---------------------------------------------------------------------------
# Scalar semantics (the oracle the vectorized path must agree with)
# ---------------------------------------------------------------------------


def execute_rule(rule_pattern: str, text: Optional[str]) -> Optional[str]:
    """Tri-state rule application. Parity: reference src/rule.py:71-99.

    Returns the stripped first capture, ``""`` for an empty capture (null
    field), or ``None`` for no match / no capture group / bad regex / null
    or empty input (Rule.apply gates falsy text — src/rule.py:44-45; a
    pandas NaN counts as null).
    """
    if not text or not rule_pattern or not isinstance(text, str):
        return None
    pat = compile_cached(rule_pattern, re.DOTALL)
    if pat is None:
        return None
    m = pat.search(text)
    if not m:
        return None
    if pat.groups < 1:
        return None  # IndexError branch, src/rule.py:89-92
    captured = m.group(1)
    if captured is None:
        return None
    captured = captured.strip()
    return captured if captured else ""


def validate_value(validation_regex: str, value: Optional[str]) -> bool:
    """Format validation. Parity: reference src/rule.py:52-63."""
    if value is None:
        return False
    pat = compile_cached(validation_regex, 0)
    if pat is None:
        return False
    return pat.match(value) is not None


def first_match(rules: Iterable[Rule], text: Optional[str]) -> tuple[Optional[str], int]:
    """Apply rules in priority order; return ``(value, rule_id)`` of the
    first rule whose extraction validates, else ``(None, -1)``.

    Parity: reference src/cache.py:219-247 (``try_extract``), minus the
    in-place weight mutation (weights are aggregated per round instead —
    end-of-round totals are order-independent, see SURVEY §2.4).
    """
    for r in rules:
        val = execute_rule(r.rule, text)
        if validate_value(r.validation_regex, val):
            return val, r.rule_id
    return None, -1


# ---------------------------------------------------------------------------
# Batch form (pandas Series in, pandas Series out)
# ---------------------------------------------------------------------------


def apply_rules_vectorized(
    texts: pd.Series, rules: list[Rule]
) -> tuple[pd.Series, pd.Series]:
    """First-match rule application over a batch of texts: ``first_match``
    per row, so the rule semantics live in one place.

    Returns ``(values, rule_ids)``: values is object-dtype with ``None`` for
    unresolved rows, ``""`` for validated empty captures; rule_ids is int64
    with ``-1`` for unresolved.
    """
    hits = [first_match(rules, t) for t in texts.tolist()]
    values = pd.Series([v for v, _ in hits], index=texts.index, dtype="object")
    rule_ids = pd.Series([i for _, i in hits], index=texts.index, dtype="int64")
    return values, rule_ids


# ---------------------------------------------------------------------------
# RuleBook: the per-round broadcast payload
# ---------------------------------------------------------------------------


@dataclass
class RuleBook:
    """Immutable snapshot of all rules, priority-ordered per (label, field).

    Built once per refinement round on the driver from the rules table and
    shipped via ``sc.broadcast`` (KB-scale: ~20 rules x ~300 B per label
    measured on the reference's converged caches).
    """

    by_label_field: dict[str, dict[str, list[Rule]]] = dc_field(default_factory=dict)

    @staticmethod
    def from_rows(rows: Iterable[dict]) -> "RuleBook":
        """Build from rules-table rows; orders by (weight desc, rule_seq asc)
        — reproduces the reference's bubble-up priority with stable ties
        (src/cache.py:249-289, strict ``<`` at :263)."""
        book = RuleBook()
        for row in rows:
            book.by_label_field.setdefault(row["label"], {}).setdefault(
                row["field"], []
            ).append(
                Rule(
                    rule=row["rule"],
                    validation_regex=row["validation_regex"],
                    weight=int(row.get("weight", 1)),
                    rule_seq=int(row.get("rule_seq", 0)),
                    rule_id=int(row.get("rule_id", -1)),
                )
            )
        for fields in book.by_label_field.values():
            for fname, rl in fields.items():
                fields[fname] = sorted(rl, key=lambda r: (-r.weight, r.rule_seq))
        return book

    def rules_for(self, label: str, fname: str) -> list[Rule]:
        return self.by_label_field.get(label, {}).get(fname, [])

    def n_rules(self) -> int:
        return sum(
            len(rl) for fields in self.by_label_field.values() for rl in fields.values()
        )
