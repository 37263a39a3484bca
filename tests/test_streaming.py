"""Structured Streaming extraction: file-source micro-batches through the
same fused operator as batch, with golden-equivalent results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.functions.rules import RuleBook
from adaptive_pdf_extractor_spark.operators.extract import extract_documents
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
from adaptive_pdf_extractor_spark.sources import spark_io
from adaptive_pdf_extractor_spark.streaming import ingest
import plumbing


@pytest.fixture(scope="module")
def rulebook(learned_rules):
    return RuleBook.from_rows(learned_rules)


def test_streaming_extract_equals_batch(spark, rulebook, tmp_path):
    docs = spark_io.synthetic_corpus_df(spark, seed=17, count=300, partitions=3)
    src = str(tmp_path / "landing")
    docs.write.parquet(src)

    stream = plumbing.file_stream_source(spark, src, max_files_per_trigger=1)
    assert stream.isStreaming
    out = extract_documents(stream, rulebook)

    q = (
        out.select("doc_id", "spans")
        .writeStream.format("memory")
        .queryName("stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r["spans"]
        for r in spark.sql("SELECT * FROM stream_out").collect()
    }
    batch = {
        r["doc_id"]: r["spans"]
        for r in extract_documents(docs, rulebook).select("doc_id", "spans").collect()
    }
    assert got.keys() == batch.keys()
    assert got == batch


def test_streaming_exact_dedup_first_seen_wins(spark, tmp_path):
    """Watermarked streaming exact dedup: duplicated content across
    micro-batches emits once; distinct content all passes."""
    docs = spark_io.synthetic_corpus_df(spark, seed=41, count=60, partitions=2)
    # duplicate the first 60 docs under new ids (identical span text)
    dups = docs.withColumn("doc_id", F.concat(F.lit("dup/"), F.col("doc_id")))
    src = str(tmp_path / "landing4")
    docs.write.parquet(src)
    dups.write.mode("append").parquet(src)

    stream = plumbing.file_stream_source(spark, src, max_files_per_trigger=1)
    deduped = ingest.streaming_exact_dedup(stream)
    q = (
        deduped.select("doc_id")
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM stream_dedup").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == 60, f"expected one emission per distinct content, got {len(ids)}"
    # exactly one of (original, dup/original) per content
    bases = {i.removeprefix("dup/") for i in ids}
    assert len(bases) == 60


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stateless streaming decontamination == the batch operator's keep
    set on the same docs/eval pair, across micro-batches (one file per
    trigger): the planted verbatim doc is dropped, everything clean
    passes, and the flag-through mode returns exactly the complement."""
    from adaptive_pdf_extractor_spark.operators import dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    evals = docs.filter(F.col("doc_id") == 3).select("text")
    keys = dedup.decontaminate_keys(evals, "text", n=13)
    assert keys  # doc 3 has >= 13 tokens at every sf

    src = str(tmp_path / "landing_decon")
    docs.filter(F.col("doc_id") < 20).write.parquet(src)
    docs.filter(F.col("doc_id") >= 20).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        ingest.streaming_decontaminate(stream, keys, "text", n=13)
        .select("doc_id")
        .writeStream.format("memory")
        .queryName("stream_decon")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM stream_decon").collect()
    }
    batch = dedup.decontaminate(docs, evals, "doc_id", "text", n=13)
    expected = {
        r["id"] for r in batch.filter(~F.col("contaminated")).collect()
    }
    assert got == expected
    assert 3 not in got and len(got) >= 30

    qc = (
        ingest.streaming_decontaminate(
            stream, keys, "text", n=13, keep_contaminated=True
        )
        .select("doc_id")
        .writeStream.format("memory")
        .queryName("stream_decon_bad")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qc.awaitTermination(120)
    bad = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM stream_decon_bad").collect()
    }
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert bad == all_ids - got


def test_streaming_minhash_neardup_cross_batch_and_state_bound(spark, tmp_path):
    """Streaming minhash-LSH near-dup: a near-duplicate arriving in a LATER
    micro-batch is suppressed while its original is inside the watermark
    horizon; within-batch clusters keep one canonical; and a near-dup
    arriving after the original aged out of state IS re-emitted (the state
    bound is real, not cosmetic)."""
    import time

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    texts = [
        corpus_mod.synth_record(seed=53, doc_id=f"s/{i}")["pdf_text"]
        for i in range(10)
    ]
    src = str(tmp_path / "nd_src")
    out_dir = str(tmp_path / "nd_out")
    state_dir = str(tmp_path / "nd_state")

    def write_batch(rows, ts):
        df = spark.createDataFrame(
            [(i, t) for i, t in rows], "doc_id string, text string"
        ).withColumn("ingest_ts", F.to_timestamp(F.lit(ts)))
        df.repartition(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    # batch 1: ten originals
    write_batch([(f"b/{i}", texts[i]) for i in range(10)], "2030-01-01 00:00:00")
    # batch 2 (60s later, inside the 300s watermark): a near-dup of b/0
    # (must be suppressed), a fresh doc, and a near-dup of that fresh doc
    # in the SAME batch (cluster keeps the min id)
    fresh = corpus_mod.synth_record(seed=59, doc_id="f/0")["pdf_text"]
    write_batch(
        [("dup/0", texts[0][12:]), ("new/0", fresh), ("new/1", fresh[12:])],
        "2030-01-01 00:01:00",
    )
    # batch 3 (hours later: b/1 aged out of state): near-dup of b/1 emits
    write_batch([("late/1", texts[1][12:])], "2030-01-01 06:00:00")

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
            StructField("ingest_ts", TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest.streaming_minhash_neardup(
        stream,
        state_dir,
        out_dir,
        watermark_seconds=300,
        checkpoint_dir=str(tmp_path / "nd_chk"),
    )
    q.awaitTermination(240)

    out_ids = {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    }
    assert {f"b/{i}" for i in range(10)} <= out_ids
    assert "dup/0" not in out_ids  # near-dup of in-state b/0: suppressed
    assert "new/0" in out_ids and "new/1" not in out_ids  # in-batch cluster
    assert "late/1" in out_ids  # original aged out -> re-emitted
    assert len(out_ids) == 12

    # the state bound: after batch 3 only rows within (max_ts - 300s)
    # survive — i.e. exactly late/1
    import os

    versions = sorted(
        (d for d in os.listdir(state_dir) if d.startswith("v=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )
    final_state = spark.read.parquet(os.path.join(state_dir, versions[-1]))
    assert {r["id"] for r in final_state.collect()} == {"late/1"}


def test_streaming_neardup_redelivery_and_stale_state_versions(spark, tmp_path):
    """Two state-machine regressions: (1) an at-least-once source
    redelivering the SAME doc id in a later batch must not re-emit it or
    duplicate its id in state (the (x,x) pair is invisible to the
    id_a < id_b pair stage — identity dedup must happen first); (2) a
    pre-existing state version numbered >= the current batch id (crash
    replay / stale dir) must be ignored, not read-while-overwritten."""
    import os
    import time

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    texts = [
        corpus_mod.synth_record(seed=61, doc_id=f"r/{i}")["pdf_text"]
        for i in range(6)
    ]
    src = str(tmp_path / "rd_src")
    out_dir = str(tmp_path / "rd_out")
    state_dir = str(tmp_path / "rd_state")

    # regression (2): a stale v=0 from a dead run — batch 0 of THIS run
    # must ignore it (reads only versions < its own id) and overwrite
    # cleanly instead of deleting files under its own scan
    stale = spark.createDataFrame(
        [("stale/0", "stale text", None)],
        "id string, text string, ts timestamp",
    )
    stale.write.parquet(os.path.join(state_dir, "v=0"))

    def write_batch(rows, ts):
        df = spark.createDataFrame(
            rows, "doc_id string, text string"
        ).withColumn("ingest_ts", F.to_timestamp(F.lit(ts)))
        df.repartition(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    write_batch(
        [(f"r/{i}", texts[i]) for i in range(6)], "2031-01-01 00:00:00"
    )
    # redelivery of r/0 (identical id + text) inside the horizon, plus a
    # fresh doc in the same batch
    fresh = corpus_mod.synth_record(seed=67, doc_id="g/0")["pdf_text"]
    write_batch(
        [("r/0", texts[0]), ("new/0", fresh)], "2031-01-01 00:01:00"
    )

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
            StructField("ingest_ts", TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest.streaming_minhash_neardup(
        stream, state_dir, out_dir,
        watermark_seconds=300,
        checkpoint_dir=str(tmp_path / "rd_chk"),
    )
    q.awaitTermination(240)

    out_ids = [r["doc_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(out_ids) == sorted(
        [f"r/{i}" for i in range(6)] + ["new/0"]
    ), "redelivered r/0 must emit exactly once; stale state must be ignored"
    versions = sorted(
        (d for d in os.listdir(state_dir) if d.startswith("v=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )
    final_state = spark.read.parquet(
        os.path.join(state_dir, versions[-1])
    ).collect()
    ids = [r["id"] for r in final_state]
    assert len(ids) == len(set(ids)), "state must not hold duplicate ids"
    assert "stale/0" not in ids


def test_streaming_neardup_empty_batch0_shadows_stale_lineage(spark, tmp_path):
    """A fresh checkpoint lineage whose batch 0 is EMPTY over a state_dir
    holding a dead run's v=0 must commit its own (empty) v=0 — otherwise
    batch 1 reads the stale v=0 and a near-dup of the stale doc is wrongly
    suppressed (the 'this lineage writes every version id' contract)."""
    import os
    import time

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    text0 = corpus_mod.synth_record(seed=71, doc_id="z/0")["pdf_text"]
    src = str(tmp_path / "eb_src")
    out_dir = str(tmp_path / "eb_out")
    state_dir = str(tmp_path / "eb_state")

    # dead run's v=0: holds text0 with a ts INSIDE batch 1's horizon — if
    # wrongly read, it suppresses batch 1's near-dup of text0
    stale = spark.createDataFrame(
        [("dead/0", text0)], "id string, text string"
    ).select(
        "id", "text",
        F.to_timestamp(F.lit("2032-01-01 00:00:30")).alias("ts"),
        F.expr("cast(null as array<bigint>)").alias("sig"),
    )
    stale.write.parquet(os.path.join(state_dir, "v=0"))

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
            StructField("ingest_ts", TimestampType()),
        ]
    )
    # batch 0: an EMPTY file (0 rows, correct schema)
    spark.createDataFrame([], schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    # batch 1: a near-dup of the stale doc's text — must EMIT (fresh
    # lineage has no state), not be suppressed by the dead run's v=0
    spark.createDataFrame(
        [("a/0", text0[12:])], "doc_id string, text string"
    ).withColumn(
        "ingest_ts", F.to_timestamp(F.lit("2032-01-01 00:01:00"))
    ).repartition(1).write.mode("append").parquet(src)
    time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest.streaming_minhash_neardup(
        stream, state_dir, out_dir,
        watermark_seconds=300,
        checkpoint_dir=str(tmp_path / "eb_chk"),
    )
    q.awaitTermination(240)

    out_ids = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert out_ids == {"a/0"}
    # the lineage committed every version id, shadowing the stale v=0
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("v=")
    )
    assert versions == [0, 1]
    final_state = spark.read.parquet(
        os.path.join(state_dir, "v=1")
    ).collect()
    assert {r["id"] for r in final_state} == {"a/0"}


def test_streaming_dedup_keeps_caller_event_time(spark, tmp_path):
    """A caller-supplied event-time column must drive the watermark and
    survive to the output (not be clobbered by processing time)."""
    docs = spark_io.synthetic_corpus_df(spark, seed=47, count=20, partitions=1)
    stamped = docs.withColumn(
        "ingest_ts", F.to_timestamp(F.lit("2020-01-01 00:00:00"))
    )
    src = str(tmp_path / "landing5")
    stamped.write.parquet(src)
    schema = stamped.schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = ingest.streaming_exact_dedup(stream)
    q = (
        out.select("doc_id", "ingest_ts")
        .writeStream.format("memory")
        .queryName("stream_ts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stream_ts").collect()
    assert len(rows) == 20
    assert all(str(r["ingest_ts"]).startswith("2020-01-01") for r in rows)


def test_streaming_stratified_sample_matches_batch(spark, tmp_path):
    """stratified_hash_sample is a pure projection+filter (md5 key
    ranges), so it is streaming-safe with NO state: applied to a
    micro-batched stream it must keep exactly the batch operator's rows."""
    from adaptive_pdf_extractor_spark.operators import stats

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "event_type")
    )
    src = str(tmp_path / "landing_strat")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    fr = {"click": 0.2, "purchase": 0.5, "error": 1.0}
    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stats.stratified_hash_sample(
            stream, "event_id", "event_type", fr, default=0.05
        )
        .writeStream.format("memory")
        .queryName("stream_strat")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM stream_strat").collect()
    }
    expected = {
        r["event_id"]
        for r in stats.stratified_hash_sample(
            ev, "event_id", "event_type", fr, default=0.05
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_decontaminate_bloom_tier(spark, tmp_path):
    """The Bloom membership tier: same keep-set as the exact set on this
    corpus (the filter is deterministic — this pin is stable, not flaky),
    and the planted contaminated doc is always dropped (no false
    negatives by construction)."""
    from adaptive_pdf_extractor_spark.operators import dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    evals = docs.filter(F.col("doc_id") == 3).select("text")
    keys = dedup.decontaminate_keys(evals, "text", n=13)
    src = str(tmp_path / "landing_decon_bloom")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(src)
    )
    q = (
        ingest.streaming_decontaminate(
            stream, keys, "text", n=13, bloom_fpr=1e-6
        )
        .select("doc_id")
        .writeStream.format("memory")
        .queryName("stream_decon_bloom")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM stream_decon_bloom").collect()
    }
    batch = dedup.decontaminate(docs, evals, "doc_id", "text", n=13)
    exact = {r["id"] for r in batch.filter(~F.col("contaminated")).collect()}
    assert 3 not in got  # contamination can never slip through a Bloom
    assert got == exact  # no false positive fired on this corpus


def _neardup_stream(spark, tmp_path, batches):
    """Run ``streaming_minhash_neardup`` over ``batches``, each a list of
    ``(doc_id, text)`` string rows with one ingest timestamp, as one
    micro-batch each. Returns the finished query and the emitted ids
    of each batch id."""
    import time

    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    for rows, ts in batches:
        spark.createDataFrame(rows, "doc_id string, text string").withColumn(
            "ingest_ts", F.to_timestamp(F.lit(ts))
        ).repartition(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    stream = (
        spark.readStream.schema(
            "doc_id string, text string, ingest_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest.streaming_minhash_neardup(
        stream,
        str(tmp_path / "state"),
        out_dir,
        watermark_seconds=300,
        checkpoint_dir=str(tmp_path / "chk"),
    )
    q.awaitTermination(240)
    emitted: dict[int, set[str]] = {}
    for r in spark.read.parquet(out_dir).collect():
        emitted.setdefault(r["batch"], set()).add(r["doc_id"])
    return q, emitted


def test_streaming_neardup_chain_through_batch_reaches_state(spark, tmp_path):
    """The chained case follows batch curation's transitive answer: state
    doc s/0, and batch docs a/1 (a near-dup of s/0) and b/0 (a near-dup
    of a/1 but not of s/0). The one pair graph over batch ∪ state joins
    all three, and a component that reaches state keeps no batch doc,
    so both a/1 and b/0 drop (a stream that only drops direct near-dups
    of state keeps b/0). Also pinned: the stream's Spark job count, and
    no persistent RDD or CacheManager entry left once it finishes (each
    batch releases what it persisted)."""
    from adaptive_pdf_extractor_spark.functions import text as T

    t = corpus_mod.synth_record(seed=53, doc_id="s/0")["pdf_text"]
    a, b = t[18:], t[47:]
    # the margins under the engine's own shingler (5-shingles, lowercased)
    sh = spark.createDataFrame([(t, a, b)], "s string, a string, b string")
    sh = sh.select(*(T.char_ngrams(F.col(c), 5).alias(c) for c in "sab"))

    def jaccard(x, y):
        inter = F.size(F.array_intersect(x, y))
        return inter / F.size(F.array_union(x, y))

    j = sh.select(
        jaccard("a", "s").alias("as"),
        jaccard("b", "a").alias("ba"),
        jaccard("b", "s").alias("bs"),
    ).first()
    assert j["as"] >= 0.9 and j["ba"] >= 0.81 and j["bs"] < 0.8, j

    sc = spark.sparkContext
    spark.catalog.clearCache()
    cached = set(sc._jsc.getPersistentRDDs().keys())
    q, emitted = _neardup_stream(
        spark,
        tmp_path,
        [
            ([("s/0", t)], "2033-01-01 00:00:00"),
            ([("a/1", a), ("b/0", b)], "2033-01-01 00:01:00"),
        ],
    )
    assert emitted == {0: {"s/0"}}
    # a stream's batches run in the job group of its run id. 78 on 4
    # cores; 95 with the per-batch vs-state and survivor-pair joins
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert n_jobs <= 80, n_jobs
    assert set(sc._jsc.getPersistentRDDs().keys()) == cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.001"),
    reason="registry input tables absent (/root/testdata/sf0.001)",
)
def test_streaming_neardup_batch_equals_curate_increment(spark, tmp_path):
    """Per batch, the stream emits what ``curate_increment`` keeps: batch
    0 is the incremental query's curated old corpus, batch 1 its new
    batch through the curation gate, and batch 1's emitted ids equal
    ``curate_increment(new, old_kept)``'s. Stream ids are strings, so a
    mutation such as "100005" sorts before its old original "5": the
    state flag, not the id order, drops it."""
    import __spark_entry__ as entry_mod
    from adaptive_pdf_extractor_spark.plans import curation

    old_kept, new = entry_mod._incremental_batches(
        spark, "/root/testdata/sf0.001"
    )
    gated = curation._gate(new, None, 13)

    def rows(df):
        return [(str(r["doc_id"]), r["text"]) for r in df.collect()]

    expected = {
        str(r["doc_id"])
        for r in curation.curate_increment(new, old_kept).collect()
    }
    old_rows = rows(old_kept)
    _, emitted = _neardup_stream(
        spark,
        tmp_path,
        [
            (old_rows, "2034-01-01 00:00:00"),
            (rows(gated), "2034-01-01 00:01:00"),
        ],
    )
    assert emitted[0] == {i for i, _ in old_rows}
    assert emitted[1] == expected and len(expected) == 20, emitted[1]

