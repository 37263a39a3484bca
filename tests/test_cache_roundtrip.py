"""Cache import/export round-trips with the reference's JSON format."""

from __future__ import annotations

import json

from conftest import needs_reference

from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
import plumbing

CACHE = "/root/reference/data/fake/caches/fake_dataset_1000samples_seed_1_cache.json"


@needs_reference
def test_reference_cache_roundtrip(tmp_path):
    rows = corpus_mod.reference_cache_to_rule_rows(CACHE)
    exported = plumbing.rule_rows_to_reference_cache(rows)
    original = json.load(open(CACHE))
    assert exported == original  # byte-equivalent structure

    # file round-trip
    out = tmp_path / "cache.json"
    plumbing.save_reference_cache(rows, str(out))
    rows2 = corpus_mod.reference_cache_to_rule_rows(str(out))
    key = lambda r: (r["label"], r["field"], r["rule_seq"])
    assert sorted(
        [{k: r[k] for k in ("label", "field", "rule", "validation_regex", "weight")}
         for r in rows], key=str
    ) == sorted(
        [{k: r[k] for k in ("label", "field", "rule", "validation_regex", "weight")}
         for r in rows2], key=str
    )


def test_export_orders_by_priority():
    rows = [
        dict(label="l", field="f", rule="light", validation_regex="v",
             weight=1, rule_seq=0, round_added=0, rule_id=0),
        dict(label="l", field="f", rule="heavy", validation_regex="v",
             weight=9, rule_seq=1, round_added=1, rule_id=1),
    ]
    exported = plumbing.rule_rows_to_reference_cache(rows)
    assert [it["rule"]["rule"] for it in exported["l"]["f"]] == ["heavy", "light"]


def test_json5_fallback_preserves_urls(tmp_path):
    """The comment-strip fallback must not truncate string values that
    contain '//' (URLs); full-line comments and trailing commas go."""
    from adaptive_pdf_extractor_spark.sources.corpus import load_reference_json

    p = tmp_path / "d.json"
    p.write_text(
        '[\n'
        '  // full-line comment\n'
        '  {"label": "l", "site": "https://example.org/x", "pdf_text": "t",},\n'
        ']\n',
        encoding="utf-8",
    )
    rows = load_reference_json(str(p))
    assert rows == [{"label": "l", "site": "https://example.org/x", "pdf_text": "t"}]
