"""Pure-core parity tests: normalize_text, execute_rule/validate semantics,
span round-trip, synthetic generator determinism. No Spark needed."""

from __future__ import annotations

import json
import re

import pandas as pd
import pytest
from conftest import needs_reference
from hypothesis import given, settings
from hypothesis import strategies as st

from adaptive_pdf_extractor_spark.functions.normalize import (
    normalize_series,
    normalize_text,
)
from adaptive_pdf_extractor_spark.functions.rules import (
    Rule,
    RuleBook,
    apply_rules_vectorized,
    execute_rule,
    first_match,
    validate_value,
)
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
import plumbing
from specs import apply_rules_pandas


# ---------------------------------------------------------------------------
# normalize_text — parity with reference src/data.py:51-95
# ---------------------------------------------------------------------------


def _reference_normalize(text):
    """Straight-line transcription of the reference algorithm, used as the
    test oracle (reference src/data.py:51-95)."""
    if text is None:
        return text
    text = re.sub(r"([a-zA-Z])(\d)", r"\1 \2", text)
    text = re.sub(r"(\d)([a-zA-Z])", r"\1 \2", text)
    text = re.sub(r"([a-z])([A-Z])", r"\1 \2", text)
    text = re.sub(r"([A-Z])([A-Z][a-z])", r"\1 \2", text)
    text = re.sub(r"[ \t]+", " ", text)
    text = re.sub(r"\n+", "\n", text)
    text = " ".join(text.split())
    return text.strip()


GOLDEN_NORMALIZE = [
    ("Seccional101943", "Seccional 101943"),
    ("GOKUInscrição", "GOKU Inscrição"),  # docs/fake_data.md example
    ("Nome\n\n\nJoão  da\tSilva ", "Nome João da Silva"),
    ("ABCdef", "AB Cdef"),
    ("çãoÉ", "çãoÉ"),  # accented chars are NOT split (ASCII classes)
    ("a1b2", "a 1 b 2"),
    ("", ""),
    ("   \n\t  ", ""),
    (None, None),
]


@pytest.mark.parametrize("raw,expected", GOLDEN_NORMALIZE)
def test_normalize_golden(raw, expected):
    assert normalize_text(raw) == expected


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_normalize_matches_reference_oracle(s):
    assert normalize_text(s) == _reference_normalize(s)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=80)), max_size=20))
def test_normalize_series_matches_scalar(items):
    out = normalize_series(pd.Series(items, dtype="object"))
    for raw, got in zip(items, out):
        assert got == normalize_text(raw)


@needs_reference
def test_normalize_on_reference_corpus_sample():
    """Spot-check against real reference corpus texts."""
    ds = corpus_mod.load_reference_json(
        "/root/reference/data/fake/datasets/fake_dataset_1000samples_seed_1.json"
    )
    texts = [d["pdf_text"] for d in ds[:200]]
    out = normalize_series(pd.Series(texts, dtype="object"))
    for raw, got in zip(texts, out):
        assert got == _reference_normalize(raw)
        assert "\n" not in got and "\t" not in got


# ---------------------------------------------------------------------------
# execute_rule / validate — tri-state semantics (reference src/rule.py:71-99)
# ---------------------------------------------------------------------------


def test_execute_rule_tristate():
    # captured value
    assert execute_rule(r"Inscrição[^\d]*(\d{6})", "Inscrição: 123456") == "123456"
    # empty capture -> "" (null-field encoding)
    assert execute_rule(r"Nome\s*()(?=Inscricao|$)", "Nome ") == ""
    # capture that strips to empty -> ""
    assert execute_rule(r"X(\s+)Y", "X   Y") == ""
    # no match -> None
    assert execute_rule(r"(\d{6})", "abc") is None
    # pattern without capture group -> None (IndexError branch)
    assert execute_rule(r"\d{6}", "123456") is None
    # group present but not participating -> None
    assert execute_rule(r"(?:(A)|B)", "B") is None
    # invalid regex -> None
    assert execute_rule(r"([", "anything") is None
    # null/empty text -> None (Rule.apply gate)
    assert execute_rule(r"(\d)", None) is None
    assert execute_rule(r"(\d)", "") is None
    # empty pattern -> None
    assert execute_rule("", "text") is None
    # DOTALL: . crosses newlines
    assert execute_rule(r"A(.+)B", "A x\ny B") == "x\ny"
    # strip applied to capture
    assert execute_rule(r"Nome\s*(.*?)\s*Fim", "Nome  João  Fim") == "João"


def test_validate_value():
    assert validate_value(r"^\d{6}$", "123456")
    assert not validate_value(r"^\d{6}$", "12345")
    assert validate_value(r"^$", "")
    assert not validate_value(r"^$", "x")
    assert not validate_value(r"^\d+$", None)
    # re.match anchors at start only; trailing content passes without $
    assert validate_value(r"\d{3}", "123abc")
    assert not validate_value(r"\d{3}", "ab123")
    # invalid regex -> False
    assert not validate_value(r"([", "x")


def test_first_match_priority_and_shortcircuit():
    rules = [
        Rule(rule=r"Nome\s+(\w+)", validation_regex=r"^\d+$", rule_id=1),  # fails validation
        Rule(rule=r"Nome\s+(\w+)", validation_regex=r"^\w+$", rule_id=2),  # hits
        Rule(rule=r"(.*)", validation_regex=r".*", rule_id=3),  # would also hit
    ]
    val, rid = first_match(rules, "Nome João")
    assert (val, rid) == ("João", 2)
    val, rid = first_match(rules[:1], "Nome João")
    assert (val, rid) == (None, -1)


def test_rulebook_priority_order():
    rows = [
        dict(label="l", field="f", rule="r1", validation_regex="v", weight=5, rule_seq=1, rule_id=0),
        dict(label="l", field="f", rule="r2", validation_regex="v", weight=5, rule_seq=0, rule_id=1),
        dict(label="l", field="f", rule="r3", validation_regex="v", weight=9, rule_seq=2, rule_id=2),
    ]
    book = RuleBook.from_rows(rows)
    got = [r.rule for r in book.rules_for("l", "f")]
    # weight desc, then insertion order (stable ties — src/cache.py:263)
    assert got == ["r3", "r2", "r1"]
    assert book.rules_for("l", "missing") == []
    assert book.n_rules() == 3


# ---------------------------------------------------------------------------
# vectorized rule application == scalar oracle
# ---------------------------------------------------------------------------


def _load_seed1_rules():
    rows = corpus_mod.reference_cache_to_rule_rows(
        "/root/reference/data/fake/caches/fake_dataset_1000samples_seed_1_cache.json"
    )
    return RuleBook.from_rows(rows)


@needs_reference
def test_vectorized_matches_scalar_on_reference_corpus():
    """Every (doc, field) on 300 real corpus docs: vectorized first-match
    equals the scalar oracle, including None/"" tri-state."""
    book = _load_seed1_rules()
    ds = corpus_mod.load_reference_json(
        "/root/reference/data/fake/datasets/fake_dataset_1000samples_seed_1.json"
    )[:300]
    texts = pd.Series([normalize_text(d["pdf_text"]) for d in ds], dtype="object")
    for fname in ds[0]["extraction_schema"]:
        rules = book.rules_for("carteira_oab", fname)
        vec_vals, vec_ids = apply_rules_vectorized(texts, rules)
        for i, text in enumerate(texts):
            exp_val, exp_id = first_match(rules, text)
            assert vec_vals.iloc[i] == exp_val, (fname, i)
            assert vec_ids.iloc[i] == exp_id, (fname, i)


# (rule, validation_regex) pool covering every tri-state branch: a value
# capture, an empty capture, a capture that strips to "", an optional group
# that does not participate, a pattern without a group, an invalid rule and
# an invalid validation regex
_RULE_POOL = [
    (r"Nome[\s:]*([A-Za-z ]{1,30}?)(?=\d|$)", r"^[A-Za-z ]+$"),
    (r"Nome\s*()(?=\d|$)", r"^$"),
    (r"(\d{3,6})", r"^\d{3,6}$"),
    (r"(\s*)x", r""),
    (r"(a)?b", r".*"),
    (r"Nome\s+\w+", r".*"),
    (r"([", r".*"),
    (r"(\w+)", r"["),
]
_FRAGMENTS = ["Nome", " ", ":", "\n", "João", "Ana", "123", "45678", "x", "b", "ab", ""]


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.just(""),
            st.text(max_size=60),
            st.lists(st.sampled_from(_FRAGMENTS), max_size=8).map("".join),
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(st.integers(min_value=0, max_value=len(_RULE_POOL) - 1), max_size=5),
)
def test_vectorized_matches_scalar_random(texts, picks):
    """``apply_rules_vectorized`` equals both the scalar ``first_match`` and
    the pandas spec (tests/specs.py) row by row."""
    rules = [
        Rule(rule=_RULE_POOL[k][0], validation_regex=_RULE_POOL[k][1], rule_id=i)
        for i, k in enumerate(picks)
    ]
    s = pd.Series(texts, dtype="object")
    vec_vals, vec_ids = apply_rules_vectorized(s, rules)
    spec_vals, spec_ids = apply_rules_pandas(s, rules)
    assert vec_ids.dtype == spec_ids.dtype == "int64"
    for i, t in enumerate(texts):
        exp_val, exp_id = first_match(rules, t)
        assert vec_vals.iloc[i] == exp_val == spec_vals.iloc[i], (t, picks)
        assert vec_ids.iloc[i] == exp_id == spec_ids.iloc[i], (t, picks)


# ---------------------------------------------------------------------------
# span model round-trip + generator determinism
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=500), st.integers(min_value=0, max_value=3))
def test_span_roundtrip_exact(text, n_media):
    spans = corpus_mod.text_to_spans("doc-x", text, n_media=n_media)
    assert corpus_mod.assemble_text(spans) == text
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    assert len(plumbing.media_spans(spans)) == n_media


@needs_reference
def test_reference_dataset_conversion_roundtrip():
    rows = plumbing.reference_dataset_to_rows(
        "/root/reference/data/fake/datasets/fake_dataset_1000samples_seed_1.json"
    )
    ds = corpus_mod.load_reference_json(
        "/root/reference/data/fake/datasets/fake_dataset_1000samples_seed_1.json"
    )
    assert len(rows) == 1000
    for rec, row in zip(ds[:100], rows[:100]):
        assert corpus_mod.assemble_text(row["spans"]) == rec["pdf_text"]
        assert [f["name"] for f in row["schema_fields"]] == list(
            rec["extraction_schema"].keys()
        )
        exp = {e["name"]: e["value"] for e in row["expected"]}
        assert exp == rec["expected_answer"]


def test_synth_rows_deterministic_and_order_independent():
    a = corpus_mod.synth_rows(seed=7, start=0, count=50)
    b = corpus_mod.synth_rows(seed=7, start=0, count=50)
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)
    # order independence: generating a shard in isolation gives same rows
    shard = corpus_mod.synth_rows(seed=7, start=30, count=5)
    assert json.dumps(shard, sort_keys=True) == json.dumps(a[30:35], sort_keys=True)
    # different seed differs
    c = corpus_mod.synth_rows(seed=8, start=0, count=50)
    assert json.dumps(a, sort_keys=True) != json.dumps(c, sort_keys=True)


@needs_reference
def test_golden_output_rows_shape():
    rows = plumbing.golden_output_rows(
        "/root/reference/data/fake/datasets/fake_dataset_1000samples_seed_1.json",
        "/root/reference/data/fake/results/fake_dataset_1000samples_seed_1_with_cache_result.json",
    )
    assert len(rows) == 1000
    r0 = rows[0]["spans"]
    field_spans = [s for s in r0 if s["kind"] != "media"]
    assert [s["kind"] for s in field_spans] == [
        "nome", "inscricao", "seccional", "subsecao", "categoria",
        "endereco_profissional", "telefone_profissional", "situacao",
    ]
    assert field_spans[0]["text"] == "Benício da Cunha"
    assert field_spans[2]["text"] is None  # null field preserved as null
