"""Text-analysis functions for large-scale training-data pipelines.

Functions here build **JVM-side Column expressions** (whole-stage codegen,
no Python in the hot path) — the Spark-first counterpart of the reference's
row-at-a-time Python string ops — except where per-element array math would
run as interpreted higher-order lambdas; those hot folds (winnowing window
minima) run as Arrow-batched numpy instead, with the Column formulation
kept as the executable spec.

The scalar functions are deterministic and DuckDB-expressible, giving them
exact SQL oracles in the driver's correctness harness
(__spark_entry__.oracle_sql).
"""

from __future__ import annotations

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


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only text -> empty array.

    Boundary whitespace is stripped by regex (F.trim removes only spaces;
    a trailing newline would otherwise yield a counted empty-string token
    and break the ``[^\\s]+``-counting oracles)."""
    cleaned = F.regexp_replace(col, rf"^[{WS_CLASS}]+|[{WS_CLASS}]+$", "")
    return F.when(cleaned == "", F.array().cast("array<string>")).otherwise(
        F.split(cleaned, rf"[{WS_CLASS}]+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_occurrences(col: Column, word: str) -> Column:
    """Count of a token (word-boundary by whitespace) — the substring-count
    formulation keeps it expressible identically in ANSI SQL.

    Two delimiter subtleties, both load-bearing: (1) whitespace normalizes
    to single spaces first, so newline/tab-separated tokens count (the
    token_count denominator splits on the same class); (2) interior spaces
    are DOUBLED before searching ``' word '``, so adjacent repeats
    ('the the the') don't share delimiter spaces with the non-overlapping
    replace-count (which would undercount them)."""
    normalized = F.regexp_replace(col, rf"[{WS_CLASS}]+", " ")
    padded = F.concat(
        F.lit(" "), F.replace(normalized, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS_EN
    total = token_count(col)
    hits = sum(word_occurrences(col, w) for w in sw)
    return F.when(total > 0, F.round(hits / total, 4)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(col, rf"[A-Za-z0-9{WS_CLASS}]", "")
    return F.when(
        F.length(col) > 0, F.round(F.length(stripped) / F.length(col), 4)
    ).otherwise(F.lit(0.0))


def mean_word_length(col: Column) -> Column:
    n = token_count(col)
    chars = F.length(F.regexp_replace(col, rf"[{WS_CLASS}]+", ""))
    return F.when(n > 0, F.round(chars / n, 4)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    sane mean word length + low punctuation noise. The exact weights are a
    policy choice; determinism + SQL-oracle-ability are the contract."""
    length_ok = (F.length(col) >= 50) & (F.length(col) <= 20000)
    sw_ok = stopword_ratio(col) >= 0.05
    mwl = mean_word_length(col)
    mwl_ok = (mwl >= 2.0) & (mwl <= 12.0)
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
        lang: sum(word_occurrences(col, w) for w in words)
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """argmax over marker-word scores; 'und' when all zero. Ties broken by
    language code order (deterministic)."""
    scores = lang_scores(col)
    pairs = [
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(scores)
    ]
    best = F.greatest(*pairs) if len(pairs) > 1 else pairs[0]
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable. Interpreted higher-order lambdas re-evaluate every
    captured OUTER expression per element (no common-subexpression
    elimination inside a lambda body), so e.g. ``lower(text)`` referenced
    inside a per-position ``transform`` costs O(len) per element — O(len²)
    per row. Binding through a one-element array transform turns the
    capture into a slot read: measured 39.1s -> 1.1s for 5-gram shingling
    of 50k documents (sf1.0). Plain column references are already slots
    and don't need this."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


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
    distinct; no lambdas, so the result is safe as a pandas-UDF input
    (see :func:`_bind` for why that matters)."""
    return F.array_distinct(char_grams_all(col, n))


def token_ngram_keys(col: Column, n: int = 13, width: int = 16) -> Column:
    """Distinct ``n``-token n-gram keys of the case-folded text: each
    gram is ``n`` consecutive whitespace tokens joined by one space,
    keyed by the first ``width`` hex chars of its md5 (compact AND
    engine-portable — a DuckDB oracle reproduces every key, the
    hash_split/winnowing_md5 trick). Case folding is ASCII-only
    (translate, NOT full-Unicode lower()): Java and DuckDB lower() can
    disagree on exotic uppercase ('İ'), and a single divergent byte
    changes the md5 key — the same reasoning as stats.ascii_fold and
    WS_CLASS. Texts with fewer than ``n`` tokens yield an empty array.
    The benchmark-decontamination primitive: 13-gram membership is the
    standard train-vs-eval overlap test (GPT-3 appendix C lineage)."""
    folded = F.translate(
        col,
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    # toks enters as a bound lambda variable (slot read) — as a captured
    # expression the whole tokenization re-ran per gram position
    return _bind(tokens(folded), lambda t: _token_ngram_keys_of(t, n, width))


def _token_ngram_keys_of(toks: Column, n: int, width: int) -> Column:
    """Gram-key expression over an already-computed token array — the ONE
    body both the bound fast path and the unbound pandas-UDF-safe variant
    share, so their keys can never diverge."""
    n_grams = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.substring(
            F.md5(F.array_join(F.slice(toks, i, n), " ")), 1, width
        ),
    )
    return F.when(n_grams >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def token_ngram_keys_unbound(
    col: Column, n: int = 13, width: int = 16
) -> Column:
    """:func:`token_ngram_keys` WITHOUT the :func:`_bind` hoist (the
    tokenization is a captured expression, re-evaluated per gram — the
    round-5 formulation). Required where the gram array feeds a pandas
    UDF DIRECTLY (streaming_decontaminate's membership kernel): a
    PythonUDF whose input carries nested lambdas silently skips
    ExtractPythonUDFs on every query after a session's first (see
    :func:`_gram_hashes`). Identical keys by construction (shared
    :func:`_token_ngram_keys_of` body)."""
    folded = F.translate(
        col,
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    return _token_ngram_keys_of(tokens(folded), n, width)


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


def doc_fingerprint(col: Column) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized, lowercased text. The canonical exact-dedup key
    (content-defined, layout-insensitive)."""
    normalized = F.lower(F.regexp_replace(F.trim(col), rf"[{WS_CLASS}]+", " "))
    return F.xxhash64(normalized)


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


def _gram_hashes(col: Column, k: int) -> Column:
    """xxhash64 of every k-gram position of the lowercased text: one
    codegen'd regex gram pass (:func:`char_grams_all`) + one single-level
    hashing transform. Single-level matters beyond speed — this array
    feeds a pandas UDF directly (winnowing_fingerprints), and a PythonUDF
    whose input carries NESTED lambdas (the :func:`_bind` shape) silently
    skips ExtractPythonUDFs on every query after a session's first —
    [INTERNAL_ERROR] Cannot evaluate expression (reproduced on 4.1)."""
    return F.transform(char_grams_all(col, k), lambda g: F.xxhash64(g))


def _window_minima(np, h, window: int):
    """Distinct-sorted sliding-window minima of one non-empty hash array
    (a single window when the array is no longer than ``window``)."""
    if len(h) <= window:
        m = h.min(keepdims=True)
    else:
        m = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
    return np.unique(m)


def winnowing_minima_np(window: int):
    """Arrow-batched winnowing window minima: k-gram hash arrays in,
    distinct-sorted window minima out, one numpy sliding-window reduce per
    document. Replaces the second interpreted ``transform`` pass of the
    Column formulation (~len(text) array_min lambda evals per doc — the
    interpreted-lambda anti-pattern; 20 kB docs paid ~40k evals)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    def mins(hashes):
        out = []
        for hs in hashes:
            if hs is None:
                out.append(None)
                continue
            h = np.asarray(hs, dtype=np.int64)
            if len(h) == 0:
                out.append([])
                continue
            out.append(_window_minima(np, h, window).tolist())
        return pd.Series(out)

    mins.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf("array<bigint>")(mins)


def winnowing_fingerprints(
    col: Column, k: int = 7, window: int = 4
) -> Column:
    """Winnowing document sketch (Schleimer et al., MOSS): hash every
    k-gram, then keep the minimum hash of each sliding window of ``window``
    consecutive k-gram hashes. Guarantees any shared substring of length
    >= k + window - 1 contributes a shared fingerprint — the classic
    rolling-hash fingerprinting scheme for near-dup/plagiarism detection.

    JVM hashes each k-gram once; window minima run as one numpy sliding
    reduce per doc (winnowing_minima_np). Bit-identical to the Column
    reference formulation below (pinned by test)."""
    return winnowing_minima_np(window)(_gram_hashes(col, k))


def winnowing_fingerprints_columns(
    col: Column, k: int = 7, window: int = 4
) -> Column:
    """Reference formulation of :func:`winnowing_fingerprints`, entirely as
    Column algebra: window minima via an interpreted transform over an
    index sequence. Kept as the executable spec the fast path is pinned
    against — do not use in the hot path."""
    def mins_of(gram_hashes: Column) -> Column:
        n_windows = F.greatest(F.size(gram_hashes) - (window - 1), F.lit(1))
        mins = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda w: F.array_min(F.slice(gram_hashes, w, window)),
        )
        return F.array_sort(F.array_distinct(mins))

    return _bind(_gram_hashes(col, k), mins_of)


def _gram_md5_hex(col: Column, k: int, width: int = 16) -> Column:
    """Fixed-width md5-hex prefix of every k-gram of the lowercased text
    (one interpreted transform pass — JVM md5 per gram, same shape as
    :func:`_gram_hashes`). Lexicographic order on fixed-length lowercase
    hex IS numeric order, identical in every engine — the same trick
    operators/stats.hash_split uses — which makes window MINIMA over these
    strings ANSI-reproducible where xxhash64 minima are not. Same
    regex-gram + single-level-transform shape as :func:`_gram_hashes`
    (this array feeds winnowing_fingerprints_md5's pandas UDF)."""
    return F.transform(
        char_grams_all(col, k),
        lambda g: F.substring(F.md5(g), 1, width),
    )


def winnowing_minima_str_np(window: int, width: int = 16):
    """Hex-string twin of :func:`winnowing_minima_np`: fixed-width (<= 16
    chars == 64 bits) hex gram hashes in, distinct-sorted window minima
    out. numpy can't reduce byte-string dtypes, so each hex string parses
    to uint64 — numeric order on the integers IS lexicographic order on
    the fixed-length hex — and the sliding minima run as the same numpy
    reduce the xxhash64 path uses, formatting back to hex on the way out."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    if width > 16:
        raise ValueError(f"width must be <= 16 hex chars (64 bits): {width}")
    fmt = f"0{width}x"

    def mins(hashes):
        out = []
        for hs in hashes:
            if hs is None:
                out.append(None)
                continue
            if len(hs) == 0:
                out.append([])
                continue
            if any(x is None for x in hs):
                # md5(null) is null (unlike xxhash64, which hashes the
                # seed), so a null TEXT arrives as [null]. Mirror the
                # Column spec exactly: array_min skips nulls (null only if
                # a window is all-null), array_sort puts nulls last.
                n_w = max(len(hs) - (window - 1), 1)
                win_mins = []
                for w in range(n_w):
                    vals = [x for x in hs[w : w + window] if x is not None]
                    win_mins.append(min(vals) if vals else None)
                uniq = sorted({m for m in win_mins if m is not None})
                if None in win_mins:
                    uniq.append(None)
                out.append(uniq)
                continue
            h = np.array([int(x, 16) for x in hs], dtype=np.uint64)
            out.append(
                [format(int(v), fmt) for v in _window_minima(np, h, window)]
            )
        return pd.Series(out)

    mins.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf("array<string>")(mins)


def winnowing_fingerprints_md5(
    col: Column, k: int = 7, window: int = 4, width: int = 16
) -> Column:
    """Engine-portable winnowing sketch: identical semantics to
    :func:`winnowing_fingerprints` but with md5-hex-prefix gram hashes, so
    a DuckDB oracle reproduces every fingerprint exactly (xxhash64 is the
    faster production path; this is the cross-engine-verifiable one).
    Numpy fast path, pinned bit-identical to the Column spec below."""
    return winnowing_minima_str_np(window, width)(_gram_md5_hex(col, k, width))


def winnowing_fingerprints_md5_columns(
    col: Column, k: int = 7, window: int = 4, width: int = 16
) -> Column:
    """Column-algebra executable spec of :func:`winnowing_fingerprints_md5`
    (interpreted; pin target only — do not use in the hot path)."""

    def mins_of(gram_hashes: Column) -> Column:
        n_windows = F.greatest(F.size(gram_hashes) - (window - 1), F.lit(1))
        mins = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda w: F.array_min(F.slice(gram_hashes, w, window)),
        )
        return F.array_sort(F.array_distinct(mins))

    return _bind(_gram_md5_hex(col, k, width), mins_of)


def doc_fingerprint_md5(col: Column) -> Column:
    """Portable variant of :func:`doc_fingerprint` (md5 hex — identical in
    every engine, used when a cross-engine oracle must reproduce it)."""
    normalized = F.lower(F.regexp_replace(F.trim(col), rf"[{WS_CLASS}]+", " "))
    return F.md5(normalized)
