"""BPE-ish token counting and winnowing fingerprints (the rolling-hash
document sketch): the winnowing guarantee and near-dup behavior."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions import text as T
from specs import winnowing_fingerprints_columns, word_occurrences


HASH_FAMILIES = ("xxhash64", "md5")


def _sketch(
    spark, texts: list[str], k=7, window=4, hash_family="xxhash64"
) -> list[set]:
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    rows = df.select(
        "id",
        T.winnowing_fingerprints(
            F.col("t"), k=k, window=window, hash_family=hash_family
        ).alias("fp"),
    ).collect()
    return [set(r["fp"]) for r in sorted(rows, key=lambda r: r["id"])]


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [("hello world",), ("f(x)=3.14; y+=2",), ("",), ("   ",)], "t string"
    )
    got = [r[0] for r in df.select(T.bpe_token_count(F.col("t"))).collect()]
    # "f(x)=3.14; y+=2" -> f ( x )= 3 . 14 ; y += 2  => 11 units
    assert got == [2, 11, 0, 0]


def test_winnowing_guarantee(spark):
    """Any shared substring of length >= k + window - 1 must contribute at
    least one shared fingerprint (the winnowing theorem), in every hash
    family."""
    k, w = 7, 4
    shared = "the quick brown fox jumps over the lazy dog"  # length 43 >= 10
    a = "PREFIX AAA " + shared + " SUFFIX BBB"
    b = "zzz totally different opening " + shared + " and closing qqq"
    c = "nothing in common with either of those two documents at all!"
    for hash_family in HASH_FAMILIES:
        sa, sb, sc = _sketch(spark, [a, b, c], k=k, window=w, hash_family=hash_family)
        assert sa & sb, "documents sharing a long substring must share fingerprints"
        assert not (sa & sc) or len(sa & sc) < len(sa & sb)


def test_winnowing_neardup_ranking(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base[15:]          # same content, shifted
    far = "one two three four five six seven eight nine ten " * 5
    for hash_family in HASH_FAMILIES:
        s_base, s_near, s_far = _sketch(
            spark, [base, near, far], hash_family=hash_family
        )
        overlap_near = len(s_base & s_near) / len(s_base | s_near)
        overlap_far = len(s_base & s_far) / len(s_base | s_far)
        assert overlap_near > 0.6 > overlap_far


def test_winnowing_short_and_empty(spark):
    for hash_family in HASH_FAMILIES:
        s_tiny, s_empty = _sketch(spark, ["abc", ""], hash_family=hash_family)
        assert len(s_tiny) == 1  # single k-gram window on short text
        assert len(s_empty) == 1  # hash of the empty substring — defined, stable


@pytest.mark.parametrize("hash_family", HASH_FAMILIES)
def test_winnowing_np_matches_column_reference(spark, hash_family):
    """The numpy sliding-min winnowing (hot path) must be bit-identical to
    the Column-algebra reference formulation in both hash families,
    including the degenerate edges (empty text, text shorter than k, null
    -> [xxhash64(null)] / md5's [null]), and give one fingerprint for
    short/empty text."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "abc", "", None, "x" * 500,
        " ".join(str(i) for i in range(300)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )

    def fast(**kw):
        return T.winnowing_fingerprints(F.col("t"), hash_family=hash_family, **kw)

    def ref(**kw):
        return winnowing_fingerprints_columns(
            F.col("t"), hash_family=hash_family, **kw
        )

    rows = df.select(
        "id",
        fast().alias("fast"),
        ref().alias("ref"),
        fast(k=4, window=7).alias("fast2"),
        ref(k=4, window=7).alias("ref2"),
    ).collect()
    for r in rows:
        assert r["fast"] == r["ref"], r["id"]
        assert r["fast2"] == r["ref2"], r["id"]
    by_id = {r["id"]: r for r in rows}
    assert len(by_id[1]["fast"]) == 1  # "abc": single whole-text window
    assert len(by_id[2]["fast"]) == 1  # "": hash of empty substring
    assert by_id[3]["fast"] is None or by_id[3]["fast"] == by_id[3]["ref"]


def test_tokens_boundary_whitespace_and_oracle_parity(spark):
    """Boundary whitespace (incl. non-space kinds F.trim misses) must not
    create counted empty tokens, and token/BPE counts plus the exact-dedup
    fingerprint input must agree with DuckDB RE2 semantics even on \\x0B
    (in Java \\s but not RE2 \\s)."""
    import duckdb

    texts = [
        "plain text here",
        "trailing newline\n",
        "\n\tleading\tand trailing \n",
        "\n",
        "a\x0bb c",
        "  spaces  ",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    got = {
        r["id"]: (r["n"], r["bpe"], r["fp"])
        for r in df.select(
            "id",
            T.token_count(F.col("t")).cast("long").alias("n"),
            T.bpe_token_count(F.col("t")).alias("bpe"),
            F.md5(
                F.lower(F.regexp_replace(F.trim("t"), rf"[{T.WS_CLASS}]+", " "))
            ).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        n, bpe, fp = con.execute(
            f"""SELECT
              CASE WHEN trim(?) = '' THEN 0
                   ELSE len(regexp_extract_all(trim(?), '[^{T.WS_CLASS}]+')) END,
              len(regexp_extract_all(?, '{T.BPE_TOKEN_PATTERN}')),
              md5(lower(regexp_replace(trim(?), '[{T.WS_CLASS}]+', ' ', 'g')))
            """,
            [t, t, t, t],
        ).fetchone()
        assert got[i] == (n, bpe, fp), (i, repr(t), got[i], (n, bpe, fp))
    # and no empty tokens regardless of boundary whitespace kind
    assert got[1][0] == 2 and got[3][0] == 0 and got[5][0] == 1


def test_hash_split_stable_and_proportional(spark):
    """hash_split is a pure function of the id: identical assignment at any
    partitioning, fractions roughly respected, thresholds exact."""
    from adaptive_pdf_extractor_spark.operators import stats

    ids = spark.range(0, 2000, 1, 4).withColumnRenamed("id", "doc_id")
    a = {
        r["doc_id"]: r["split"]
        for r in stats.hash_split(
            ids, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in stats.hash_split(
            ids.repartition(13), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b  # partitioning-independent
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    assert abs(c["test"] / 2000 - 0.1) < 0.03


def test_hash_split_chi_square_uniformity(spark):
    """Distribution-tolerance property at 100k+ sequential ids: the
    3-way split's chi-square statistic (2 degrees of freedom) must stay
    below 30 — p < 1e-6 under uniformity would be ~27.6, so a key-
    derivation change that skews train/test (e.g. hashing only low bits,
    or a biased threshold) fails loudly while honest md5 noise (expected
    chi2 ~ 2) passes with two orders of margin. Sequential ids are the
    adversarial input here: a weak hash correlates adjacent ids."""
    from adaptive_pdf_extractor_spark.operators import stats

    n = 120_000
    fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    ids = spark.range(0, n, 1, 8).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["c"]
        for r in stats.hash_split(ids, "doc_id", fractions)
        .groupBy("split")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert set(counts) == set(fractions)
    chi2 = sum(
        (counts[s] - n * f) ** 2 / (n * f) for s, f in fractions.items()
    )
    assert chi2 < 30.0, (chi2, counts)


def test_word_occurrences_whitespace_kinds_and_adjacent_repeats(spark):
    """Newline/tab-separated tokens count, adjacent repeats count fully,
    and the SQL oracle mirror agrees on exactly these cases."""
    import duckdb

    texts = ["the\nthe\tthe", "the the the", "the", "xthe thex", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    got = {
        r["id"]: (r["occ"], r["sw"])
        for r in df.select(
            "id",
            word_occurrences(F.col("t"), "the").alias("occ"),
            T.stopword_ratio(F.col("t")).alias("sw"),
        ).collect()
    }
    assert got[0][0] == 3 and got[0][1] == 1.0
    assert got[1][0] == 3 and got[1][1] == 1.0
    assert got[2][0] == 1
    assert got[3][0] == 0  # substrings are not tokens
    assert got[4][0] == 0
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for i, t in enumerate(texts):
        (occ,) = con.execute(
            f"SELECT {entry_mod._sql_occurrences('?', 'the')}".replace("?", "?"),
            [t, t],
        ).fetchone()
        assert occ == got[i][0], (i, repr(t))


def _random_texts(seed: int, words: list[str], n: int = 300) -> list:
    """Random texts over ``words`` plus near-miss tokens, each token
    followed by a run of one of the whitespace kinds, with adjacent
    repeats; then NULL, "", whitespace-only text, NBSP-delimited text and
    text that ends in a token."""
    import random

    rng = random.Random(seed)
    near = ["thee", "xthe", "the.", "The", "a.b", "(of)", "de|la", "o?", "[a]"]
    seps = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r\n", " \t "]
    texts = []
    for _ in range(n):
        toks = []
        for _ in range(rng.randint(0, 40)):
            tok = rng.choice(words + near)
            toks += [tok] * (rng.randint(2, 4) if rng.random() < 0.2 else 1)
        body = "".join(t + rng.choice(seps) for t in toks)
        texts.append(rng.choice(["", " ", "\n"]) + body)
    return texts + [None, "", " ", "\t\n\x0b", "\u00a0the\u00a0", "the of the"]


def test_word_list_alternation_matches_per_word_spec(spark):
    """One alternation per word list counts what the per-word spec sums:
    ``STOPWORDS_EN``, every ``LANG_MARKERS`` list and a list of regex
    metacharacter words (each escaped), on random text with adjacent
    repeats, every whitespace kind, near-miss tokens, NULL and ""."""
    meta = ["a.b", "(of)", "de|la", "o?", "[a]", "c++", "$x^", "\\w"]
    lists = {"stop": T.STOPWORDS_EN, "meta": meta, **T.LANG_MARKERS}
    words = sorted({w for ws in lists.values() for w in ws})
    texts = _random_texts(11, words)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    t = F.col("t")
    cols = []
    for name, ws in lists.items():
        assert len(set(ws)) == len(ws), name
        spec = sum(word_occurrences(t, w) for w in ws)
        if name in T.LANG_MARKERS:
            got = T.lang_scores(t)[name]
        else:
            got = T._occurrences(t, ws)
        cols += [got.alias(f"got_{name}"), spec.alias(f"spec_{name}")]
    rows = df.select("id", *cols).collect()
    for r in rows:
        for name in lists:
            assert r[f"got_{name}"] == r[f"spec_{name}"], (name, repr(texts[r["id"]]))
    # the pins are not vacuous: every list is hit somewhere
    for name in lists:
        assert any(r[f"spec_{name}"] for r in rows), name


def test_token_count_matches_tokens_size(spark):
    """``token_count`` (one regex count) equals ``size(tokens(...))`` on
    NULL, "", whitespace-only text, ``\\x0b``, NBSP (a token character)
    and random text with every whitespace kind."""
    texts = _random_texts(5, ["the", "a", "dog", "x.y"]) + [
        "\x0b", "a\x0bb", "\u00a0", "a\u00a0b c", "x x x", "  lead", "trail\n",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    rows = df.select(
        "id",
        T.token_count(F.col("t")).alias("n"),
        F.size(T.tokens(F.col("t"))).alias("spec"),
    ).collect()
    for r in rows:
        assert r["n"] == r["spec"], repr(texts[r["id"]])
    by_id = {r["id"]: r["n"] for r in rows}
    assert by_id[texts.index("a\u00a0b c")] == 2


def test_quality_and_lang_id_match_sql_oracles(spark):
    """``stopword_ratio``, ``quality_score`` and ``lang_id`` agree row for
    row with the DuckDB expressions of the ``doc_quality`` and
    ``lang_id_dist`` oracles, on random text over every marker list with
    every whitespace kind, NULL, "", and texts whose mean word length is
    exactly 2.0 and 12.0 (the band's closed ends)."""
    import duckdb

    import __spark_entry__ as entry_mod

    words = sorted({w for ws in T.LANG_MARKERS.values() for w in ws})
    texts = _random_texts(13, words + T.STOPWORDS_EN + ["xy", "!?"]) + [
        "ab " * 25 + "of",
        "abcdefghijkl " * 10,
        "abcdefghijkl " * 10 + "the",
        "x" * 60,
        "!!!! ???? .... ,,,, the",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    c = F.col("text")
    got = sorted(
        tuple(r)
        for r in df.select(
            "id",
            T.stopword_ratio(c),
            T.quality_score(c),
            T.lang_id(c),
        ).collect()
    )
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"id": range(len(texts)), "text": texts}))
    want = sorted(
        con.execute(
            f"SELECT id, {entry_mod._sql_stopword_ratio()}, "
            f"{entry_mod._sql_quality()}, {entry_mod._sql_lang_pred()} "
            "FROM docs"
        ).fetchall()
    )
    assert got == want
    # the pins are not vacuous: every score band and language occurs
    assert {r[2] for r in got} >= {None, 0.25, 0.75, 1.0}
    assert {r[3] for r in got} >= set(T.LANG_MARKERS) | {"und"}


def test_hash_split_validation_and_ascii_fold(spark):
    """hash_split rejects bad fractions loudly (no bare assert); top_terms'
    ASCII fold matches DuckDB on text where full Unicode lower() differs
    between engines (Java lower('İ') is 2 chars, utf8proc's is 1)."""
    import duckdb
    import pytest

    from adaptive_pdf_extractor_spark.operators import stats

    ids = spark.range(5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to > 1"):
        stats.hash_split(ids, "doc_id", {"a": 0.9, "b": 0.9})
    with pytest.raises(ValueError, match="positive"):
        stats.hash_split(ids, "doc_id", {"a": 0.9, "b": -0.1})
    with pytest.raises(ValueError, match="non-empty"):
        stats.hash_split(ids, "doc_id", {})

    df = spark.createDataFrame(
        [(0, "İstanbul İstanbul Word word STRASSE")], "id int, t string"
    )
    got = sorted(
        (r["term"], r["n"])
        for r in stats.top_terms(df, "t", k=10, min_len=2).collect()
    )
    want = sorted(
        duckdb.sql(
            "SELECT translate(t, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
            " 'abcdefghijklmnopqrstuvwxyz') AS term, count(*) AS n"
            " FROM (SELECT unnest(string_split("
            "'İstanbul İstanbul Word word STRASSE', ' ')) AS t)"
            " GROUP BY 1"
        ).fetchall()
    )
    assert got == want
    assert ("İstanbul", 2) in got  # non-ASCII preserved identically


def test_token_ngram_keys_match_python_reference(spark):
    """token_ngram_keys (the decontamination gram primitive) against a
    straight-line Python reference over a seeded batch of edge-case and
    random ASCII texts at n = 1, 5 and 13: NULL, empty, whitespace-only,
    sub-n, exactly-n, repeated grams (distinct!), every WS_CLASS char as a
    separator, a non-ASCII space (U+00A0, which stays inside a token) and
    a non-ASCII token. One Spark job for the whole batch."""
    import hashlib
    import random
    import re

    ns = (1, 5, 13)
    ws = "\t\n\x0b\f\r "

    def ref(text: str | None, n: int) -> list[str]:
        if text is None:
            return []
        folded = text.translate(str.maketrans(
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
        ))  # ASCII fold, mirroring token_ngram_keys' translate
        cleaned = re.sub(rf"^[{ws}]+|[{ws}]+$", "", folded)
        toks = re.split(rf"[{ws}]+", cleaned) if cleaned else []
        if len(toks) < n:
            return []
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        seen: set = set()
        out = []
        for g in grams:
            k = hashlib.md5(g.encode("utf-8")).hexdigest()[:16]
            if k not in seen:
                seen.add(k)
                out.append(k)
        return out

    rng = random.Random(17)
    vocab = ["alpha", "beta", "Gamma", "d", "e1", "FF", "go"]
    texts = [
        None, "", "   ", "\t\n", "a b c d", "a b c d e",
        "one two one two one two one two",
        "a\u00a0b c d e f g h i j k l m n o",
        "İstanbul İSTANBUL istanbul Word WORD word x y z q r s t u v",
    ]
    for _ in range(60):
        k = rng.randrange(0, 20)
        toks = [rng.choice(vocab) for _ in range(k)]
        seps = [rng.choice(ws) * rng.randrange(1, 3) for _ in range(max(k - 1, 0))]
        t = "".join(
            tok + (seps[i] if i < len(seps) else "") for i, tok in enumerate(toks)
        )
        texts.append(rng.choice(ws) * rng.randrange(0, 2) + t)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            *[T.token_ngram_keys(F.col("t"), n).alias(f"g{n}") for n in ns],
        ).collect()
    }
    for n in ns:
        for i, t in enumerate(texts):
            assert list(rows[i][f"g{n}"]) == ref(t, n), (n, i, t)
    assert any(len(ref(t, 13)) > 1 for t in texts)  # n=13 sees real grams


def test_repetition_metrics_signal(spark):
    """duplicate_line_fraction and top_bigram_coverage actually separate
    spam shapes from prose: a doc of repeated lines scores dup-frac near
    1; a keyword-stuffed doc concentrates its bigram mass; varied prose
    scores low on both; sub-2-token docs get the 0.0 default."""
    from adaptive_pdf_extractor_spark.operators import stats

    rows = [
        (0, "menu\nmenu\nmenu\nmenu"),                       # line spam
        (1, "buy now " * 20),                                 # bigram stuffing
        (2, "one two three four five six seven eight nine"),  # varied prose
        (3, "solo"),                                          # no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lf = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id",
            T.duplicate_line_fraction(F.col("text")).alias("f"),
        ).collect()
    }
    assert lf[0] == 0.75  # 4 lines, 1 distinct
    assert lf[2] == 0.0
    bg = {
        r["doc_id"]: r["top_bigram_frac"]
        for r in stats.top_bigram_coverage(df, "doc_id", "text").collect()
    }
    assert bg[1] > 0.5      # "now buy"/"buy now" dominate the slots
    assert bg[2] < 0.2      # every bigram distinct -> 1/8
    assert bg[3] == 0.0


def test_redact_pii_precision(spark):
    """redact_pii: emails and phone-shaped runs become typed tokens;
    bare small numbers, version strings and prose digits are NOT touched
    (precision-over-recall contract)."""
    rows = [
        (0, "mail a.b+tag@sub.example.org now"),
        (1, "call +55 (11) 98765-4321 or 555-0123-4567"),
        (2, "v2.3 has 12345 users and spark 4.1.2"),
        (3, "edge user@example.com."),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["c"]
        for r in df.select(
            "id", T.redact_pii(F.col("text")).alias("c")
        ).collect()
    }
    assert got[0] == "mail <email> now"
    assert got[1] == "call <phone> or <phone>"
    assert got[2] == "v2.3 has 12345 users and spark 4.1.2"
    assert got[3] == "edge <email>."


def test_pandas_udf_gram_inputs_survive_repeated_queries(spark):
    """Regression for the round-6 lambda-binding landmine: a pandas UDF
    whose input expression carries NESTED lambda bindings (a one-element
    ``transform`` hoist around a per-gram lambda) silently skips
    Python-UDF extraction on every query after a session's first and dies
    with [INTERNAL_ERROR] Cannot evaluate expression. Every gram array
    must therefore stay single-lambda-level — pinned here by running each
    UDF-fed one (MinHash signatures and winnowing in both hash families,
    streaming decontamination, and a pandas UDF taking token_ngram_keys
    directly) TWICE against freshly-constructed source frames (the exact
    trigger) and requiring identical results."""
    from adaptive_pdf_extractor_spark.operators import dedup
    from adaptive_pdf_extractor_spark.streaming.ingest import (
        streaming_decontaminate,
    )

    sf = "/root/testdata/sf0.001"

    def sig_rows(hash_family, n):
        d = spark.read.parquet(f"{sf}/documents.parquet").limit(n)
        return sorted(
            (r["id"], tuple(r["sig"]))
            for r in dedup.minhash_signatures_df(
                d, "doc_id", "text", hash_family=hash_family
            ).collect()
        )

    for hash_family, n in (("xxhash64", 20), ("md5", 10)):
        assert sig_rows(hash_family, n) == sig_rows(hash_family, n)

    def winnow_rows(hash_family):
        d = spark.read.parquet(f"{sf}/documents.parquet").limit(10)
        return sorted(
            (r["doc_id"], tuple(r["fp"]))
            for r in d.select(
                "doc_id",
                T.winnowing_fingerprints(
                    F.col("text"), hash_family=hash_family
                ).alias("fp"),
            ).collect()
        )

    for hash_family in ("xxhash64", "md5"):
        assert winnow_rows(hash_family) == winnow_rows(hash_family)

    from pyspark.sql.pandas.functions import pandas_udf

    def n_keys(keys: pd.Series) -> pd.Series:
        return keys.map(len)

    n_keys_udf = pandas_udf("long")(n_keys)

    def key_counts():
        d = spark.read.parquet(f"{sf}/documents.parquet").limit(20)
        return sorted(
            (r["doc_id"], r["n"], r["size"])
            for r in d.select(
                "doc_id",
                n_keys_udf(T.token_ngram_keys(F.col("text"), 5)).alias("n"),
                F.size(T.token_ngram_keys(F.col("text"), 5)).alias("size"),
            ).collect()
        )

    first = key_counts()
    assert first == key_counts()
    assert all(n == size for _, n, size in first)
    assert any(n > 0 for _, n, _ in first)

    def decon_ids():
        d = spark.read.parquet(f"{sf}/documents.parquet").limit(20)
        keys = dedup.decontaminate_keys(
            d.filter(F.col("doc_id") == 3).select("text"), "text", n=13
        )
        return sorted(
            r["doc_id"]
            for r in streaming_decontaminate(d, keys, "text").collect()
        )

    assert decon_ids() == decon_ids()
