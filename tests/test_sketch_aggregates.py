"""Sketch aggregates (HLL++ distinct, approx percentile): accuracy pinned
against the exact aggregates on the same data — the correctness gate for
the rows-only events_sketch_stats driver entry (sketches are not
cross-engine reproducible, so no SQL oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def test_sketch_stats_within_tolerance_of_exact(spark):
    approx = {
        r["event_type"]: (r["approx_users"], r["p50_approx"])
        for r in entry_mod.q_events_sketch_stats(spark, SF_DIR).collect()
    }
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = {
        r["event_type"]: (r["users"], r["p50"])
        for r in e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.percentile("value", F.lit(0.5)).alias("p50"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys() and len(approx) == 5
    for etype, (users, p50) in exact.items():
        a_users, a_p50 = approx[etype]
        # HLL++ default rsd = 5%; allow 3 sigma
        assert abs(a_users - users) <= max(3, 0.15 * users), (etype, a_users, users)
        # percentile_approx(accuracy=1000): rank error <= n/1000; translate
        # to a generous value tolerance on this distribution
        assert abs(a_p50 - p50) <= max(1.0, 0.1 * abs(p50)), (etype, a_p50, p50)


def test_sketch_stats_deterministic(spark):
    """Same input -> same sketch output (HLL++ and KLL here are
    deterministic algorithms, not randomized): rerunning the query must
    not flicker."""
    a = sorted(
        map(tuple, entry_mod.q_events_sketch_stats(spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, entry_mod.q_events_sketch_stats(spark, SF_DIR).collect())
    )
    assert a == b


def test_approx_top_terms_equals_exact_when_bound_clears(spark):
    """Heavy hitters (frequent-items candidates + exact recount): equals
    the exact top_terms row-for-row on the corpus (every top-25 count
    clears N/(summary+1) by orders of magnitude), at any partitioning."""
    from adaptive_pdf_extractor_spark.operators import stats

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = [
        tuple(r) for r in stats.top_terms(d, "text", k=25, min_len=2).collect()
    ]
    approx = [
        tuple(r)
        for r in stats.approx_top_terms(d, "text", k=25, min_len=2).collect()
    ]
    assert approx == exact
    # partitioning independence of the guarantee (candidate sets differ,
    # the heavy-hitter output must not)
    repart = [
        tuple(r)
        for r in stats.approx_top_terms(
            d.repartition(7), "text", k=25, min_len=2
        ).collect()
    ]
    assert repart == exact


def test_approx_top_terms_tiny_summary_keeps_heavy_hitters(spark):
    """The Misra-Gries bound at a deliberately tiny summary: terms above
    N/(summary+1) are guaranteed candidates even when the summary can hold
    almost nothing; counts for everything emitted are exact."""
    from adaptive_pdf_extractor_spark.operators import stats

    rows = (
        [("the alpha " * 30,)] * 20      # 'the'/'alpha': 600 each
        + [(f"w{i} x{i} y{i}",) for i in range(3)]  # near-unique tail
    )
    d = spark.createDataFrame(rows * 5, "text string").repartition(6)
    out = {
        r["term"]: r["n"]
        for r in stats.approx_top_terms(
            d, "text", k=2, min_len=2, summary_size=2
        ).collect()
    }
    assert out == {"the": 3000, "alpha": 3000}


def test_hll_union_matches_exact_distincts(spark):
    """Mergeable HLL sketches (the pre-aggregated-rollup pattern): the
    per-type estimates AND the merged-union global estimate must sit
    within HLL tolerance of the exact distinct counts — the union must
    dedup across sketches, not sum them."""
    approx = {
        r["event_type"]: r["approx_users"]
        for r in entry_mod.q_events_hll_union(spark, SF_DIR).collect()
    }
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = {
        r["event_type"]: r["users"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    exact["ALL"] = e.select("user_id").distinct().count()
    assert approx.keys() == exact.keys() and len(approx) == 6
    for etype, users in exact.items():
        assert abs(approx[etype] - users) <= max(3, 0.15 * users), (
            etype, approx[etype], users,
        )
    # the union estimate must be far below the SUM of per-type distincts
    # (users appear in several types) — proving it merged, not added
    per_type_sum = sum(v for k, v in exact.items() if k != "ALL")
    assert approx["ALL"] < 0.9 * per_type_sum


def test_stratified_sample_independent_of_hash_split(spark):
    """The sampling key is SALTED, so sampling is independent of
    hash_split's unsalted key: a 20% sample must still populate the val
    and test tail splits at ~5% each (with a shared key, every sampled
    row would sort into the train range and the tails would be EMPTY)."""
    from pyspark.sql import functions as F

    from adaptive_pdf_extractor_spark.operators import stats

    df = spark.range(20000).select(
        F.col("id"), F.lit("a").alias("stratum")
    )
    sampled = stats.stratified_hash_sample(df, "id", "stratum", {"a": 0.2})
    n = sampled.count()
    assert 0.17 * 20000 <= n <= 0.23 * 20000
    splits = {
        r["split"]: r["c"]
        for r in stats.hash_split(
            sampled, "id", {"train": 0.9, "val": 0.05, "test": 0.05}
        )
        .groupBy("split")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert splits.get("val", 0) > 0.02 * n
    assert splits.get("test", 0) > 0.02 * n


def test_bigram_lm_scores_rank_gibberish_low(spark):
    """The LM quality signal actually signals: documents made of the
    corpus's dominant phrase score high avg_logprob, a gibberish doc of
    unique tokens scores markedly lower, and a one-token doc gets the
    zero-bigram null row."""
    from adaptive_pdf_extractor_spark.operators import stats

    phrase = "the quick brown fox jumps over the lazy dog"
    rows = [(i, " ".join([phrase] * 4)) for i in range(20)]
    rows.append((100, " ".join(f"zx{i}q" for i in range(30))))  # gibberish
    rows.append((101, "solo"))  # single token -> no bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in stats.bigram_lm_scores(
            df, "doc_id", "text", vocab_size=50
        ).collect()
    }
    assert got[0]["avg_logprob"] > got[100]["avg_logprob"] + 1.0
    assert got[101]["n_bigrams"] == 0 and got[101]["avg_logprob"] is None
    assert got[0]["n_bigrams"] == 4 * 9 - 1
