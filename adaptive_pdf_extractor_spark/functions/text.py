"""Text-analysis functions for large-scale training-data pipelines.

Functions here build **JVM-side Column expressions** (whole-stage codegen,
no Python in the hot path) — the Spark-first counterpart of the reference's
row-at-a-time Python string ops. Every gram array is one codegen'd
``regexp_extract_all`` pass plus at most one single-level hashing
``transform``: no per-position lambda re-evaluates captured text, and the
array can feed a pandas UDF directly (a PythonUDF whose input nests lambdas
skips Python-UDF extraction on a session's later queries). Folds over those
arrays (winnowing window minima here; MinHash and SimHash in
operators/dedup) run as Arrow-batched numpy over ONE hash-family table,
``_HASH_FAMILIES``; their Column-algebra specs live in ``tests/specs.py``.

The scalar functions are deterministic and DuckDB-expressible, giving them
exact SQL oracles in the driver's correctness harness
(__spark_entry__.oracle_sql).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/heuristic language ID.
# Deliberately tiny: language ID over web text is a frequency heuristic,
# not a model — the operator shape (per-language marker scoring + argmax)
# is what matters at 100 TB, and markers are a config, not code.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
    "pt": ["o", "de", "que", "em", "uma"],
}

STOPWORDS_EN = ["the", "a", "of", "to", "and", "in", "is", "it", "that", "for"]


# Explicit whitespace class used in every cross-engine pattern: Java \s
# includes \x0B (vertical tab), RE2 (DuckDB) \s does not — naming the
# characters keeps Spark and the oracles byte-identical on all inputs.
WS_CLASS = r"\t\n\x0b\f\r "
_WS_EDGES = rf"^[{WS_CLASS}]+|[{WS_CLASS}]+$"
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


# Per-element hash families of the sketch kernels (MinHash, SimHash,
# winnowing): the JVM-side hash applied to each gram/token, and the numpy
# decode of the resulting Arrow array to uint64. Only these differ between
# families; each fold is one implementation. xxhash64 is the production
# fast path; md5 (first 16 hex chars parsed as uint64) is the
# engine-portable form a DuckDB oracle reproduces bit-for-bit (numpy can't
# reduce string dtypes, hence the per-element parse).
_HASH_FAMILIES = {
    "xxhash64": (
        lambda g: F.xxhash64(g),
        lambda np, hs: np.asarray(hs, dtype=np.int64).astype(np.uint64),
    ),
    "md5": (
        lambda g: F.substring(F.md5(g), 1, 16),
        lambda np, hs: np.array([int(x, 16) for x in hs], dtype=np.uint64),
    ),
}


def _hash_family(hash_family: str):
    """(JVM element hash, numpy decode) of a hash family; ValueError for
    an unknown name (raised while the query is built, before any job)."""
    if hash_family not in _HASH_FAMILIES:
        raise ValueError(
            f"unknown hash_family {hash_family!r}; "
            f"expected one of {sorted(_HASH_FAMILIES)}"
        )
    return _HASH_FAMILIES[hash_family]


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only text -> empty array.

    Boundary whitespace is stripped by regex (F.trim removes only spaces;
    a trailing newline would otherwise yield a counted empty-string token
    and break the ``[^\\s]+``-counting oracles)."""
    cleaned = F.regexp_replace(col, _WS_EDGES, "")
    return F.when(cleaned == "", F.array().cast("array<string>")).otherwise(
        F.split(cleaned, rf"[{WS_CLASS}]+")
    )


def token_count(col: Column) -> Column:
    """``size(tokens(col))`` as one codegen'd regex count of maximal
    non-whitespace runs, with no array built (the oracles'
    ``_sql_token_count``)."""
    return F.regexp_count(col, F.lit(f"[^{WS_CLASS}]+"))


def _occurrences(col: Column, words) -> Column:
    """Total count of the tokens (split on ``WS_CLASS``) of ``col`` that
    are in the set ``words``: ONE regex count of a regex-escaped
    alternation, never one replace-count per word.

    Whitespace normalizes to single spaces first, so newline- and
    tab-separated tokens count, and interior spaces are then DOUBLED and
    the text padded with a space on each side: every token sits between
    delimiter spaces of its own, so adjacent repeats ('the the the')
    count fully and the non-overlapping count equals the sum of the
    per-word replace-counts of the SQL oracles (``_sql_occurrences``;
    the per-word spec is ``tests/specs.word_occurrences``). ``words`` is
    a set: a word listed twice counts once."""
    normalized = F.regexp_replace(col, rf"[{WS_CLASS}]+", " ")
    padded = F.concat(
        F.lit(" "), F.replace(normalized, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    alternation = "|".join(re.escape(w) for w in sorted(set(words)))
    return F.regexp_count(padded, F.lit(f" (?:{alternation}) "))


def _ratio(num: Column, den: Column) -> Column:
    """``round(num / den, 4)``, 0.0 where ``den`` is 0 or NULL. A
    ``try_divide`` rather than a ``when``: a ``when`` branch is evaluated
    conditionally, so it shares no common subexpression with its
    condition, and an operand referenced in both would compile and run
    twice per row."""
    return F.coalesce(F.round(F.try_divide(num, den), 4), F.lit(0.0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Share of tokens that are stopwords; ``stopwords`` is a set (default
    ``STOPWORDS_EN``), counted by :func:`_occurrences`."""
    return _ratio(_occurrences(col, stopwords or STOPWORDS_EN), token_count(col))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(col, rf"[A-Za-z0-9{WS_CLASS}]", "")
    return _ratio(F.length(stripped), F.length(col))


def mean_word_length(col: Column) -> Column:
    chars = F.length(F.regexp_replace(col, rf"[{WS_CLASS}]+", ""))
    return _ratio(chars, token_count(col))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    sane mean word length + low punctuation noise. The exact weights are a
    policy choice; determinism + SQL-oracle-ability are the contract.

    Every regex count is referenced once and unconditionally, so the
    shared token count compiles once: ``2.0 <= mwl <= 12.0`` is written
    ``abs(mwl - 7.0) <= 5.0``, because ``&`` evaluates its right side
    conditionally. Both bounds subtract exactly, and ``mwl`` is rounded
    to 4 decimals, so the two forms agree on every row."""
    length_ok = (F.length(col) >= 50) & (F.length(col) <= 20000)
    sw_ok = stopword_ratio(col) >= 0.05
    mwl_ok = F.abs(mean_word_length(col) - 7.0) <= 5.0
    punct_ok = punct_ratio(col) <= 0.2
    score = (
        length_ok.cast("int")
        + sw_ok.cast("int")
        + mwl_ok.cast("int")
        + punct_ok.cast("int")
    ) / 4.0
    return F.round(score, 4)


def lang_scores(col: Column) -> dict[str, Column]:
    return {
        lang: _occurrences(col, words)
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """argmax over marker-word scores; 'und' when all zero (or NULL).
    Ties broken by language code order (deterministic): the max of
    ``(score, lang)`` structs. An ``(0, 'und')`` struct joins the max, so
    'und' wins exactly the all-zero rows (it sorts after every language
    code, and a NULL score below 0) with each score referenced once."""
    scores = lang_scores(col)
    assert all(lang < "und" for lang in scores), "'und' must sort last"
    pairs = [F.struct(F.lit(0).alias("score"), F.lit("und").alias("lang"))] + [
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(scores)
    ]
    return F.greatest(*pairs)["lang"]


def char_grams_all(col: Column, n: int) -> Column:
    """EVERY position n-gram of the lowercased text, in order, duplicates
    kept — one codegen'd ``regexp_extract_all`` pass with an overlapping
    lookahead (``(?s)(?=(.{n})).``: capture n chars, consume one), instead
    of a per-position interpreted ``transform`` lambda. The round-5
    sequence+transform+substr formulation re-evaluated the captured
    ``lower(text)`` per position — O(len²) per row, measured 38.9 s for
    one 50k-doc shingling pass at sf1.0; this form measures 0.8 s with
    identical output. Texts shorter than ``n`` yield their whole
    (lowercased) text as the single gram, "" and NULL propagate as [""] /
    [NULL] — exactly the old ``greatest(len-(n-1), 1)`` + over-long
    ``substr`` edge behavior."""
    low = F.lower(col)
    pat = "(?s)(?=(." + "{" + str(n) + "}))."
    return F.when(
        F.length(low) >= n, F.regexp_extract_all(low, F.lit(pat), 1)
    ).otherwise(F.array(low))


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams (shingles) of the lowercased text —
    the dedup primitive. One regex pass (:func:`char_grams_all`) + one
    distinct; no lambdas, so the result is safe as a pandas-UDF input."""
    return F.array_distinct(char_grams_all(col, n))


def token_ngram_keys(col: Column, n: int = 13) -> Column:
    """Distinct ``n``-token n-gram keys of the case-folded text: each
    gram is ``n`` consecutive whitespace tokens joined by one space,
    keyed by the first 16 hex chars of its md5 (compact AND
    engine-portable — a DuckDB oracle reproduces every key, the
    hash_split/winnowing md5 trick). Case folding is ASCII-only
    (translate, NOT full-Unicode lower()): Java and DuckDB lower() can
    disagree on exotic uppercase ('İ'), and a single divergent byte
    changes the md5 key — the same reasoning as stats.ascii_fold and
    WS_CLASS. Texts with fewer than ``n`` tokens (and NULL) yield an
    empty array. The benchmark-decontamination primitive: 13-gram
    membership is the standard train-vs-eval overlap test (GPT-3
    appendix C lineage).

    Tokens are :func:`tokens`' (boundary whitespace stripped, each
    ``WS_CLASS`` run one separator); with every run collapsed to one
    space, the grams are one ``regexp_extract_all`` pass capturing ``n``
    tokens ahead of each token start, then one single-level hashing
    ``transform`` — the gram shape a pandas UDF can take directly."""
    folded = F.translate(col, _ASCII_UPPER, _ASCII_UPPER.lower())
    norm = F.regexp_replace(
        F.regexp_replace(folded, _WS_EDGES, ""), rf"[{WS_CLASS}]+", " "
    )
    pat = "(?<![^ ])(?=((?:[^ ]+ ){" + str(n - 1) + "}[^ ]+))"
    gram_hash, _ = _hash_family("md5")
    keys = F.transform(F.regexp_extract_all(norm, F.lit(pat), 1), gram_hash)
    return F.coalesce(F.array_distinct(keys), F.array().cast("array<string>"))


# PII patterns constrained to constructs with IDENTICAL semantics in Java
# regex and RE2 (the BPE_TOKEN_PATTERN discipline) so the DuckDB oracle
# reproduces every replacement byte-for-byte: character classes, bounded
# repetition, \b word boundaries — no lookaround, no backrefs.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# leading boundary is (\+|\b), NOT \b\+?: there is no word boundary
# between a space and '+', so \b\+? can never consume a leading plus
PII_PHONE_PATTERN = (
    r"(?:\+|\b)[0-9]{1,3}[-. ]?\(?[0-9]{2,4}\)?[-. ]?"
    r"[0-9]{3,5}[-. ]?[0-9]{4}\b"
)


def redact_pii(col: Column) -> Column:
    """Replace email addresses and phone-shaped number runs with typed
    placeholder tokens (``<email>`` / ``<phone>``) — the standard PII
    scrub a training-data pipeline applies before anything ships.
    Deliberately conservative patterns (high precision over recall — a
    missed phone is recoverable policy-side, a mangled legitimate number
    corrupts training text), engine-portable by construction; emails
    redact FIRST so digits inside an address can't be half-eaten by the
    phone pass."""
    emails = F.regexp_replace(col, PII_EMAIL_PATTERN, "<email>")
    return F.regexp_replace(emails, PII_PHONE_PATTERN, "<phone>")


def duplicate_line_fraction(col: Column) -> Column:
    """Fraction of non-empty (trimmed) lines occurring more than once in
    the document — the Gopher-rules line-repetition signal (navigation
    lists, template spam and scraper loops duplicate lines; prose does
    not). Pure Column algebra: ``1 - distinct/total`` over the trimmed
    non-empty line array; 0.0 for documents with no non-empty lines."""
    lines = F.filter(
        F.transform(F.split(col, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n = F.size(lines)
    return F.when(
        n > 0,
        F.round(1.0 - F.size(F.array_distinct(lines)) / n, 4),
    ).otherwise(F.lit(0.0))


# BPE-style pretokenizer classes (simplified GPT-2 shape, constrained to
# constructs with identical semantics in Java regex and RE2 so the DuckDB
# oracle reproduces it exactly): letter runs, digit runs, non-space symbol
# runs — the unit a byte-pair encoder would merge within.
BPE_TOKEN_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CLASS}]+"


def bpe_token_count(col: Column) -> Column:
    """Approximate LLM-token count: number of BPE-pretokenizer units.
    Whitespace tokenization undercounts code/punctuation-heavy text; this
    is the standard cheap proxy for corpus token budgeting."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), F.lit(0))).cast(
        "long"
    )


def _window_minima(np, h, window: int):
    """Distinct-sorted sliding-window minima of one non-empty hash array
    (a single window when the array is no longer than ``window``)."""
    if len(h) <= window:
        m = h.min(keepdims=True)
    else:
        m = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
    return np.unique(m)


def _winnowing_udf(hash_family: str, window: int):
    """Arrow-batched winnowing window minima: gram hash arrays in,
    distinct-sorted window minima out, one numpy sliding-window reduce per
    document (an interpreted ``array_min`` lambda per window cost ~len(text)
    lambda evals per doc). The minima follow the order the family's Spark
    values sort in: signed int64 for xxhash64 (``array_min`` on bigint),
    unsigned for md5's 16-hex strings (lexicographic order on fixed-length
    lowercase hex IS numeric order), which come back as ``016x`` hex."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    _, decode = _hash_family(hash_family)
    md5 = hash_family == "md5"
    order = np.uint64 if md5 else np.int64

    def mins(hashes):
        out = []
        for hs in hashes:
            if hs[0] is None:
                # md5(NULL) is NULL: NULL text's one gram hashes to [NULL],
                # which the Column spec maps to [NULL]
                out.append([None])
                continue
            m = _window_minima(np, decode(np, hs).view(order), window)
            out.append([format(int(v), "016x") for v in m] if md5 else m.tolist())
        return pd.Series(out)

    mins.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf("array<string>" if md5 else "array<bigint>")(mins)


def winnowing_fingerprints(
    col: Column, k: int = 7, window: int = 4, hash_family: str = "xxhash64"
) -> Column:
    """Winnowing document sketch (Schleimer et al., MOSS): hash every
    k-gram, then keep the minimum hash of each sliding window of ``window``
    consecutive k-gram hashes. Guarantees any shared substring of length
    >= k + window - 1 contributes a shared fingerprint — the classic
    rolling-hash fingerprinting scheme for near-dup/plagiarism detection.

    ``hash_family``: ``"xxhash64"`` (the production fast path, bigint
    fingerprints) or ``"md5"`` (16-hex-char string fingerprints a DuckDB
    oracle reproduces exactly — q_winnowing_sketch_md5). The JVM hashes
    each k-gram once (:func:`char_grams_all` + one single-level
    transform); the window minima run in :func:`_winnowing_udf`. Both
    families are pinned bit-identical to a Column-algebra spec
    (``winnowing_fingerprints_columns`` in ``tests/specs.py``)."""
    gram_hash, _ = _hash_family(hash_family)
    grams = F.transform(char_grams_all(col, k), gram_hash)
    return _winnowing_udf(hash_family, window)(grams)


def doc_fingerprint_md5(col: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the
    whitespace-normalized, lowercased text — the canonical exact-dedup key
    (content-defined, layout-insensitive), identical in every engine so a
    cross-engine oracle reproduces it."""
    normalized = F.lower(F.regexp_replace(F.trim(col), rf"[{WS_CLASS}]+", " "))
    return F.md5(normalized)
