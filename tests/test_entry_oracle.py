"""Mirror of the driver's correctness gate: run every ``queries()`` entry in
Spark and its ``oracle_sql()`` twin in DuckDB on the same parquet tables;
compare row count + order-insensitive values. Runs at sf0.001 (the driver
uses sf0.01 — same data generator, 10x rows)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from plumbing import placements

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_normalize_cell(r[i]) for i in order) for r in rows
    )


ORACLED = sorted(entry_mod.oracle_sql().keys())
# queries whose MinHash pair stage runs on the driver or on Spark by input
# size (dedup.BOUND): checked under both placements
PLACED = {"incremental_curation"}


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, monkeypatch, name):
    if name in PLACED:
        for _ in placements(monkeypatch):
            _check(spark, ddb, name)
    else:
        _check(spark, ddb, name)


def _check(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _rowset(spark_cols, spark_rows)
    b = _rowset(duck_cols, duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_rows_only_queries_run(spark):
    """Queries without an oracle must still run and return rows."""
    qs = entry_mod.queries()
    no_oracle = set(qs) - set(entry_mod.oracle_sql())
    assert no_oracle == {
        "adaptive_extract",
        "simhash_neardup",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "winnowing_sketch",
        "embedding_neardup_lsh",
        "corpus_curation_lsh",
        "embedding_knn_join_ivf",
        "events_sketch_stats",
        "events_hll_union",
        "media_features",
        "approx_top_terms",
    }
    for name in sorted(no_oracle):
        df = qs[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0, name
        if name == "adaptive_extract":
            assert n > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "field", "value", "field_pos"]


def test_flagship_corpus_derives_from_documents_text(spark):
    """The flagship span corpus must provably derive from the driver's
    documents.text: every present ground-truth value is a token window of
    the source row's text, the raw text rides verbatim at the body's tail,
    and perturbing the text changes the derived record."""
    from adaptive_pdf_extractor_spark.sources import spark_io
    from adaptive_pdf_extractor_spark.sources.corpus import record_from_text

    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    texts = {r["doc_id"]: r["text"] for r in src.collect()}
    corpus = spark_io.corpus_from_documents_df(
        src, seed=13, corpus="flagship"
    ).collect()
    assert len(corpus) == len(texts)
    n_vals = 0
    for row in corpus:
        base = texts[int(row["doc_id"].split("/")[-1])]
        toks = set(base.split())
        for e in row["expected"]:
            if e["value"] is not None:
                n_vals += 1
                assert all(t in toks for t in e["value"].split()), (
                    row["doc_id"], e,
                )
        # text spans reassemble to the rendered doc, whose tail is the
        # ORIGINAL text verbatim
        reassembled = "".join(
            s["text"]
            for s in sorted(row["spans"], key=lambda s: s["offset"])
            if s["kind"] == "text"
        )
        assert reassembled.endswith("\n" + base)
    assert n_vals > 0  # presence is 0.7/field: some values must exist
    # sensitivity: same (seed, doc_id), different text -> different record
    a = record_from_text(13, "flagship/000000007", "alpha beta gamma delta")
    b = record_from_text(13, "flagship/000000007", "wholly other words here")
    assert a["pdf_text"] != b["pdf_text"] and a["expected"] != b["expected"]


def test_explicit_corpus_partitions_always_repartition(spark):
    """An explicit ``partitions`` target is honoured even when the input
    already reports more partitions: ``getNumPartitions()`` cannot see
    AQE's post-shuffle coalescing, so the probe may only gate the
    default target."""
    from adaptive_pdf_extractor_spark.sources import spark_io

    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    wide = src.repartition(16)
    assert wide.rdd.getNumPartitions() == 16
    corpus = spark_io.corpus_from_documents_df(
        wide, seed=13, corpus="flagship", partitions=4
    )
    assert corpus.rdd.getNumPartitions() == 4


def test_registry_orders_oracled_queries_first():
    """Round-6 ordering contract (VERDICT #1): the driver's correctness
    harness grades a registry-order PREFIX of queries(), so every entry
    with an oracle_sql() twin must precede every rows-only entry — a new
    oracled query appended after a rows-only one would silently fall out
    of the graded window."""
    keys = list(entry_mod.queries())
    oracled = set(entry_mod.oracle_sql())
    n = len(oracled)
    assert set(keys[:n]) == oracled, (
        "oracled queries must form the registry prefix; out of place: "
        f"{sorted(oracled - set(keys[:n]))}"
    )
