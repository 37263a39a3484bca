"""Seeded benchmark inputs: a 24-template document family and a
curation documents table.

The template *family* (labels, fields, value shapes, printed labels) is
fixed, so every seed exercises the same learning problem; ``--seed`` picks
the documents drawn from it. Documents follow the engine's own synthetic
generator (``corpus._render_chunks``): 70/30 field presence, 33% chunk
shuffle, the reference separator mix. A third of the templates print
labels unrelated to the title-cased field name, so anchor discovery has
real work to do.

The curation table mirrors the shape of a ``documents`` table: short
documents of 10-100 words over a 30-word vocabulary, 5% planted
near-duplicates (an earlier document plus a ``dup`` token) and a few
verbatim copies. The tiny vocabulary makes LSH buckets large, so the
pair stage's mega-cluster guard fires.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
from adaptive_pdf_extractor_spark.sources.corpus import INPUT_DDL

FAMILY_SEED = 20261016
N_TEMPLATES = 24
GIANT_BYTES = 512 * 1024
SHAPES = ("digits", "word", "mixed", "code")

_FIELD_WORDS = [
    "registro", "emissao", "codigo", "orgao", "validade", "titular",
    "protocolo", "unidade", "classe", "referencia", "matricula", "lote",
    "contrato", "endereco", "cidade", "numero", "agencia", "conta",
]
# printed labels for the relabelled templates: no token shared with a
# field name, so only anchor discovery can find them
_PRINT_HEADS = ["Ident", "Reg", "Cad", "Doc", "Nro", "Ref", "Info", "Dado"]
_PRINT_TAILS = ["Alfa", "Beta", "Gama", "Delta", "Sigma", "Omega", "Kappa",
                "Zeta", "Theta", "Lambda"]
_VALUE_WORDS = ["Norte", "Sul", "Leste", "Oeste", "Central", "Nova", "Velha",
                "Alta", "Baixa", "Grande", "Pequena", "Real", "Livre"]
_NOISE_WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
                "adipiscing", "elit", "sed", "do", "eiusmod", "tempor"]


def template_family() -> list[dict]:
    """The fixed template family: ``[{label, fields: [(name, shape,
    printed)]}]``, 4-10 fields each; every third template relabelled."""
    rng = corpus_mod._Rng(FAMILY_SEED)
    family = []
    for t in range(N_TEMPLATES):
        n_fields = rng.randint(4, 10)
        names: list[str] = []
        while len(names) < n_fields:
            name = f"{rng.choice(_FIELD_WORDS)}_{rng.choice(_FIELD_WORDS)}"
            if name not in names:
                names.append(name)
        relabel = t % 3 == 0
        printed: list[str] = []
        for name in names:
            if not relabel:
                printed.append(name.replace("_", " ").title())
                continue
            while True:
                lbl = f"{rng.choice(_PRINT_HEADS)} {rng.choice(_PRINT_TAILS)}"
                if lbl not in printed:
                    printed.append(lbl)
                    break
        fields = [(n, SHAPES[rng.next() % 4], p) for n, p in zip(names, printed)]
        family.append({"label": f"form_{t:02d}", "fields": fields})
    return family


def _value(rng: corpus_mod._Rng, shape: str) -> str:
    if shape == "digits":
        return str(rng.randint(10**4, 10**8))
    if shape == "word":
        return f"{rng.choice(_VALUE_WORDS)} {rng.choice(_VALUE_WORDS)}"
    if shape == "code":
        return f"{rng.randint(10, 99)}.{rng.randint(100, 999)}-{rng.randint(0, 9)}"
    return f"{rng.choice(_VALUE_WORDS)} {rng.randint(100, 9999)}"


def template_row(seed: int, template: dict, doc_id: str, noise_bytes: int = 0) -> dict:
    """One input row of ``template``; ``noise_bytes`` > 0 prefixes that
    much label-free filler text (a giant scanned document's front matter)."""
    rng = corpus_mod._Rng(corpus_mod._stable_hash(f"{seed}:{doc_id}"))
    chunks, expected = [], []
    for name, shape, printed in template["fields"]:
        value = _value(rng, shape) if rng.random() < 0.7 else None
        expected.append({"name": name, "value": value})
        chunks.append((printed, value))
    if rng.random() < 0.33:
        rng.shuffle(chunks)
    text = corpus_mod._render_chunks(rng, chunks)
    chunk_target = 64
    if noise_bytes:
        words = []
        size = 0
        while size < noise_bytes:
            w = rng.choice(_NOISE_WORDS)
            words.append(w)
            size += len(w) + 1
        text = " ".join(words) + "\n" + text
        chunk_target = 4096
    return {
        "doc_id": doc_id,
        "spans": corpus_mod.text_to_spans(doc_id, text, chunk_target=chunk_target),
        "label": template["label"],
        "schema_fields": [
            {"name": n, "description": s} for n, s, _p in template["fields"]
        ],
        "expected": expected,
    }


def template_corpus_df(spark, seed: int, per_template: int, giants: int):
    """Distributed generation: ``per_template`` docs of every template
    (doc ``i`` uses template ``i % 24``) plus ``giants`` documents with
    ``GIANT_BYTES`` of filler in front, one row per ``spark.range`` id."""
    family = template_family()
    n_regular = per_template * len(family)
    total = n_regular + giants

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                tpl = family[i % len(family)]
                if i < n_regular:
                    rows.append(template_row(seed, tpl, f"doc/{i:08d}"))
                else:
                    rows.append(template_row(
                        seed, tpl, f"giant/{i:08d}", noise_bytes=GIANT_BYTES
                    ))
            yield pd.DataFrame(rows)

    parts = max(4, min(64, total // 2000))
    return spark.range(0, total, 1, parts).mapInPandas(gen, schema=INPUT_DDL)


_DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
              "stream", "value", "data", "small", "join", "filter", "big",
              "group", "hash", "customer", "sort", "order", "slow", "line",
              "part", "fast", "row", "the", "agg", "key", "query", "a",
              "scan", "batch"]
_LANGS = ["en", "en", "en", "en", "en", "en", "en", "en",
          "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de"]


def curation_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A ``documents`` table (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
