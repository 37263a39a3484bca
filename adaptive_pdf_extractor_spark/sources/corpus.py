"""Corpus model and ingestion.

The engine's input is a table of **interleaved text+media documents**
(BASELINE.json input_hint)::

    doc_id        STRING
    spans         ARRAY<STRUCT<kind STRING, text STRING,
                               media_ref STRING, offset INT>>
    label         STRING                                   -- template label
    schema_fields ARRAY<STRUCT<name STRING, description STRING>>
    expected      ARRAY<STRUCT<name STRING, value STRING>> -- optional golden

``spans`` carries the document content: ``kind='text'`` spans hold raw text
chunks; ``kind='media'`` spans hold opaque media references. Document text =
concatenation of text-span ``text`` in ``offset`` order (exact round-trip —
no joiner). Media spans pass through extraction untouched, in order.

Field order is part of the correctness invariant (reference: answer dict
order = extraction-schema key order, src/main.py:183), so the schema is an
ordered ARRAY of structs, not a MAP (Spark map entry order is not
contractual).

Output span layout (documented contract; the golden derivation of the
parity tests, ``tests/plumbing.golden_output_rows``, follows it): one span
per schema field **in schema order**
``(kind=<field name>, text=<value or null>, media_ref=null, offset=i)``,
followed by the document's media spans in original order with offsets
continuing.

:func:`text_to_spans` chunks document text deterministically and
interleaves synthetic media spans, so the media-passthrough path is
exercised on every converted corpus. The conversion of the reference's
JSON datasets (reference: src/data.py:103-121 ``read_dataset``; record
shape scripts/generate_fake_data.py:283-288) into this span table feeds
only the parity tests and lives with them (``tests/plumbing.py``); the
reference's converged caches import here as rules
(:func:`reference_cache_to_rule_rows`).
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any, Iterable, Optional

INPUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "label string, "
    "schema_fields array<struct<name:string,description:string>>, "
    "expected array<struct<name:string,value:string>>"
)

OUTPUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _stable_hash(s: str) -> int:
    """Deterministic 64-bit hash (process-independent, unlike ``hash``)."""
    return int.from_bytes(hashlib.sha1(s.encode("utf-8")).digest()[:8], "big")


def load_reference_json(path: str) -> list[dict]:
    """Load a reference dataset/result/cache JSON.

    The reference writes via json5 (src/data.py:117) but its shipped corpora
    are strict-JSON-parseable; fall back to a comment/trailing-comma strip
    for json5-flavored files (data/real/dataset.json). The fallback is a
    heuristic, not a json5 parser: a string VALUE containing ',}' / ',]'
    or (last-resort tier only) '//' can still be altered — acceptable for
    the reference's actual files, which contain neither.
    """
    with open(path, "r", encoding="utf-8") as f:
        raw = f.read()
    try:
        return json.loads(raw)
    except json.JSONDecodeError:
        pass
    # Tiered json5 fallback: full-line comments + trailing commas first —
    # the aggressive '//...' strip would truncate string values containing
    # '//' (URLs); it runs only as a last resort.
    cleaned = re.sub(r"(?m)^\s*//[^\n]*", "", raw)
    cleaned = re.sub(r",(\s*[}\]])", r"\1", cleaned)
    try:
        return json.loads(cleaned)
    except json.JSONDecodeError:
        cleaned = re.sub(r"//[^\n]*", "", raw)
        cleaned = re.sub(r",(\s*[}\]])", r"\1", cleaned)
        return json.loads(cleaned)


# ---------------------------------------------------------------------------
# pdf_text -> interleaved spans (deterministic)
# ---------------------------------------------------------------------------


def text_to_spans(
    doc_id: str, text: str, n_media: Optional[int] = None, chunk_target: int = 64
) -> list[dict]:
    """Chunk document text into text spans and interleave media spans.

    Deterministic per ``doc_id`` (chunk boundaries and media positions are
    seeded by a stable hash) so converted corpora are reproducible. The
    concatenation of text-span ``text`` in offset order equals ``text``
    exactly (asserted in tests — exact round-trip is what makes golden
    parity meaningful).
    """
    h = _stable_hash(doc_id)
    if n_media is None:
        n_media = h % 3  # 0..2 media spans per doc
    # Chunk at whitespace boundaries near chunk_target chars, keeping every
    # character (separators stay attached to the preceding chunk).
    chunks: list[str] = []
    pos = 0
    n = len(text)
    while pos < n:
        end = min(pos + chunk_target, n)
        if end < n:
            ws = max(text.rfind(" ", pos + 1, end), text.rfind("\n", pos + 1, end))
            if ws > pos:
                end = ws + 1
        chunks.append(text[pos:end])
        pos = end
    if not chunks:
        chunks = [""]
    # Interleave media spans at stable positions.
    media_positions = sorted(
        ((h >> (8 * (k + 1))) % (len(chunks) + 1)) for k in range(n_media)
    )
    spans: list[dict] = []
    mi = 0
    for ci, chunk in enumerate(chunks):
        while mi < len(media_positions) and media_positions[mi] == ci:
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": f"media://{doc_id}/{mi}",
                    "offset": len(spans),
                }
            )
            mi += 1
        spans.append({"kind": "text", "text": chunk, "media_ref": None, "offset": len(spans)})
    while mi < len(media_positions):
        spans.append(
            {
                "kind": "media",
                "text": None,
                "media_ref": f"media://{doc_id}/{mi}",
                "offset": len(spans),
            }
        )
        mi += 1
    return spans


def assemble_text(spans: Iterable[dict]) -> str:
    """Document text = concat of text-span text in offset order."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    return "".join(s["text"] or "" for s in ordered if s["kind"] == "text")


# ---------------------------------------------------------------------------
# Reference cache JSON -> rules-table rows
# ---------------------------------------------------------------------------


def reference_cache_to_rule_rows(path: str) -> list[dict]:
    """Import a reference converged cache (nested JSON
    ``{label: {field: [{rule:{rule,validation_regex}, weight}]}}`` —
    reference src/cache.py:369-378) as rules-table rows. File order within a
    field is the previous run's final priority order (head→tail,
    src/cache.py:291-300), which ``rule_seq`` preserves as the tie-breaker.
    """
    data = load_reference_json(path)
    rows = []
    rule_id = 0
    for label, fields in data.items():
        for fname, items in fields.items():
            for seq, item in enumerate(items):
                rows.append(
                    {
                        "label": label,
                        "field": fname,
                        "rule": item["rule"]["rule"],
                        "validation_regex": item["rule"]["validation_regex"],
                        "weight": int(item.get("weight", 1)),
                        "rule_seq": seq,
                        "round_added": 0,
                        "rule_id": rule_id,
                    }
                )
                rule_id += 1
    return rows


# ---------------------------------------------------------------------------
# Synthetic corpus generator (deterministic, Faker-free)
# ---------------------------------------------------------------------------

# Word material for the deterministic generator (mirrors the *distributions*
# of scripts/generate_fake_data.py:204-288, not its exact Faker stream — the
# reference seeds globally so its sample stream is sequence-dependent; exact
# reference corpora are imported from its shipped JSONs instead).
_FIRST = ["Ana", "Bruno", "Carla", "Diego", "Elisa", "Fábio", "Gabriela", "Hugo",
          "Iara", "João", "Karina", "Luís", "Maria", "Nícolas", "Olívia", "Paulo",
          "Quésia", "Rafael", "Sofia", "Tiago", "Úrsula", "Vitor", "Wesley", "Yasmin"]
_SUR = ["Silva", "Santos", "Oliveira", "Souza", "Costa", "Pereira", "Almeida",
        "Ferreira", "Rodrigues", "Gomes", "Martins", "Barbosa", "Ribeiro",
        "Carvalho", "Lima", "Araújo", "da Cunha", "Teixeira", "Moraes", "Pinto"]
_STATES = ["AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES", "GO", "MA", "MT", "MS",
           "MG", "PA", "PB", "PR", "PE", "PI", "RJ", "RN", "RS", "RO", "RR", "SC",
           "SP", "SE", "TO"]
_STATE_NAMES = ["Acre", "Alagoas", "Amapá", "Amazonas", "Bahia", "Ceará",
                "Distrito Federal", "Espírito Santo", "Goiás", "Maranhão",
                "Mato Grosso", "Mato Grosso do Sul", "Minas Gerais", "Pará",
                "Paraíba", "Paraná", "Pernambuco", "Piauí", "Rio de Janeiro",
                "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia", "Roraima",
                "Santa Catarina", "São Paulo", "Sergipe", "Tocantins"]
_CITIES = ["Teixeira", "Campinas", "Santos", "Niterói", "Sorocaba", "Uberlândia",
           "Maringá", "Joinville", "Caxias", "Petrolina", "Ilhéus", "Barreiras",
           "Palmas", "Marabá", "Mossoró", "Anápolis", "Dourados", "Cascavel"]
_STREET_KINDS = ["Rua", "Avenida", "Travessa", "Ladeira", "Alameda", "Praça"]
_CATEGORIES = ["ADVOGADO", "ADVOGADA", "SUPLEMENTAR", "ESTAGIARIO"]
_SITUACOES = ["Situação Regular", "Situação Irregular"]

DEFAULT_LABEL = "carteira_oab"
DEFAULT_SCHEMA = [
    ("nome", "Nome do profissional"),
    ("inscricao", "Número de inscrição do profissional"),
    ("seccional", "Seccional do profissional"),
    ("subsecao", "Subseção à qual o profissional faz parte"),
    ("categoria", "Categoria do profissional"),
    ("endereco_profissional", "Endereço do profissional"),
    ("telefone_profissional", "Telefone do profissional"),
    ("situacao", "Situação do profissional"),
]


class _Rng:
    """Tiny deterministic PRNG (splitmix64) — stable across processes and
    Python versions, unlike ``random.Random`` streams tied to global seeding
    order. Each document gets an independent stream keyed by (seed, doc_id),
    which is what makes generation order-independent and shardable."""

    def __init__(self, seed: int):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self) -> int:
        self.state = (self.state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    def randint(self, lo: int, hi: int) -> int:
        return lo + self.next() % (hi - lo + 1)

    def choice(self, seq):
        return seq[self.next() % len(seq)]

    def random(self) -> float:
        return self.next() / 2**64

    def shuffle(self, lst: list) -> None:
        for i in range(len(lst) - 1, 0, -1):
            j = self.next() % (i + 1)
            lst[i], lst[j] = lst[j], lst[i]


def synth_record(seed: int, doc_id: str) -> dict[str, Any]:
    """Deterministic synthetic document (noisy OAB-card text + ground truth
    + interleaved media spans). Distributions mirror the reference generator
    (scripts/generate_fake_data.py): 70/30 field presence (:225), 33% chunk
    shuffle (:255-257), separator mix {\\n x8, '' x2, ' ' x6, '   ' x2,
    \\t x2}/20 (:271-274)."""
    rng = _Rng(_stable_hash(f"{seed}:{doc_id}"))
    si = rng.next() % len(_STATES)
    canonical = {
        "nome": f"{rng.choice(_FIRST)} {rng.choice(_SUR)}",
        "inscricao": str(rng.randint(10**7, 10**9 - 1)),
        "seccional": _STATES[si],
        "subsecao": f"{rng.choice(_CITIES)} - {rng.choice(_STATE_NAMES)}",
        "categoria": rng.choice(_CATEGORIES),
        "endereco_profissional": (
            f"{rng.choice(_STREET_KINDS)} {rng.choice(_SUR)}, {rng.randint(1, 999)}, "
            f"{rng.choice(_CITIES)}, {rng.randint(10**7, 10**8 - 1)} "
            f"{rng.choice(_CITIES)} / {_STATES[si]}"
        ),
        "telefone_profissional": f"{rng.randint(11, 99)} {rng.randint(2000, 9999)}-{rng.randint(1000, 9999)}",
        "situacao": rng.choice(_SITUACOES),
    }
    chunks: list[tuple[Optional[str], Optional[str]]] = []
    expected: dict[str, Optional[str]] = {}
    for fname, _desc in DEFAULT_SCHEMA:
        present = rng.random() < 0.7
        title = fname.replace("_", " ").title()
        if present:
            expected[fname] = canonical[fname]
            chunks.append((title, canonical[fname]))
        else:
            expected[fname] = None
            chunks.append((title, None))
    if rng.random() < 0.33:
        rng.shuffle(chunks)
    text = _render_chunks(rng, chunks)
    return {
        "doc_id": doc_id,
        "pdf_text": text,
        "label": DEFAULT_LABEL,
        "schema_fields": [{"name": n, "description": d} for n, d in DEFAULT_SCHEMA],
        "expected": [{"name": n, "value": v} for n, v in expected.items()],
    }


def _render_chunks(rng: "_Rng", chunks: list) -> str:
    """Shared chunk renderer: the reference generator's separator mix
    (scripts/generate_fake_data.py:271-274) applied to (title, value)
    pairs."""
    seps = ["\n"] * 8 + [""] * 2 + [" "] * 6 + ["   "] * 2 + ["\t"] * 2
    text = ""
    for title, value in chunks:
        if title is not None:
            text += title
        text += rng.choice(seps)
        if value is not None:
            text += value
    return text


def record_from_text(seed: int, doc_id: str, text: str) -> dict[str, Any]:
    """Deterministic span-corpus record whose field values and body COME
    FROM the given document text (the driver-provided ``documents.text``):
    every present field's ground-truth value is a token window drawn from
    the text by a (seed, doc_id)-keyed PRNG, the chunks render through the
    same title/presence/shuffle/separator distributions as
    :func:`synth_record`, and the ORIGINAL text is appended verbatim as
    trailing body content. So the flagship corpus provably derives from
    the real table: change the text and both the values and the body
    change (pinned by test)."""
    rng = _Rng(_stable_hash(f"{seed}:{doc_id}"))
    toks = text.split()

    def pick_value() -> str:
        if not toks:
            return f"tok{rng.next() % 997}"  # degenerate empty-text doc
        n = rng.randint(1, 3)
        start = rng.next() % len(toks)
        return " ".join(toks[start : start + n]) or toks[-1]

    chunks: list[tuple[Optional[str], Optional[str]]] = []
    expected: dict[str, Optional[str]] = {}
    for fname, _desc in DEFAULT_SCHEMA:
        present = rng.random() < 0.7
        title = fname.replace("_", " ").title()
        if present:
            expected[fname] = pick_value()
            chunks.append((title, expected[fname]))
        else:
            expected[fname] = None
            chunks.append((title, None))
    if rng.random() < 0.33:
        rng.shuffle(chunks)
    rendered = _render_chunks(rng, chunks) + "\n" + text
    return {
        "doc_id": doc_id,
        "pdf_text": rendered,
        "label": DEFAULT_LABEL,
        "schema_fields": [{"name": n, "description": d} for n, d in DEFAULT_SCHEMA],
        "expected": [{"name": n, "value": v} for n, v in expected.items()],
    }


def synth_rows(seed: int, start: int, count: int, corpus: str = "synth") -> list[dict]:
    """Generate ``count`` input rows with ids ``start..start+count-1``.
    Order-independent per row — safe to fan out over ``spark.range``."""
    rows = []
    for i in range(start, start + count):
        doc_id = f"{corpus}/{i:09d}"
        rec = synth_record(seed, doc_id)
        rows.append(
            {
                "doc_id": doc_id,
                "spans": text_to_spans(doc_id, rec["pdf_text"]),
                "label": rec["label"],
                "schema_fields": rec["schema_fields"],
                "expected": rec["expected"],
            }
        )
    return rows
